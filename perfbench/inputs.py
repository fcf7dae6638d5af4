"""Seeded benchmark inputs.

Every table here is a pure function of the workload seed. Set-up writes
them to parquet under the run's work directory; the timed operations only
ever read those staged tables back.

- ``documents_frame``: a ``(doc_id, text)`` table shaped like the
  generated ``documents`` table of the sf testdata (10-100 words per
  document over a small vocabulary, so repetition and paragraph dedup
  behave as they do there), with planted exact and prefix-shifted
  near-duplicate documents so the dedup stages of the corpus funnel have
  work to do.
- ``interleaved_corpus``: the ``bench.staged_corpus`` shape — documents
  replicated with seed-salted doc ids, split into text spans with a media
  span in every third slot, raw RGBA payloads attached.
- ``skewed_corpus``: light documents of three spans plus every k-th
  document heavy with hundreds of media spans whose payloads are padded
  with noise rows (the ``scripts/skew_bench.py`` shape, as documents).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from xhs_ocr_spark.extraction.datagen import attach_media_bytes, corpus_from_documents

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
BOILER = "nav menu footer cookie login signup banner sidebar tracking share".split()
DUP_SHARE = 20  # one in DUP_SHARE documents is an exact copy, as many a near copy


def documents_frame(seed: int, n_docs: int) -> pd.DataFrame:
    """``n_docs`` documents ``(doc_id int64, text)``. Doc ids are a seeded
    permutation of ``range(n_docs)``: they stay numeric, because the
    funnel's decontamination split uses ``doc_id % 11``."""
    rng = np.random.default_rng(seed)
    lengths = rng.integers(10, 101, n_docs)
    words = np.asarray(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    texts = [" ".join(ws) for ws in np.split(words, np.cumsum(lengths)[:-1])]
    n_plant = n_docs // DUP_SHARE
    src = rng.choice(n_docs // 2, 2 * n_plant, replace=False)
    dst = rng.choice(np.arange(n_docs // 2, n_docs), 2 * n_plant, replace=False)
    for s, d in zip(src[:n_plant], dst[:n_plant]):
        texts[d] = texts[s]
    for s, d in zip(src[n_plant:], dst[n_plant:]):
        # prefix-shifted, so paragraph dedup does not gut the copy first
        texts[d] = " ".join(texts[s].split()[2:] + [VOCAB[int(rng.integers(len(VOCAB)))]])
    return pd.DataFrame(
        {"doc_id": rng.permutation(n_docs).astype(np.int64), "text": texts}
    )


def interleaved_corpus(
    spark: SparkSession, docs: pd.DataFrame, seed: int, replicate: int
) -> DataFrame:
    """``(doc_id, spans)`` with media bytes, ``replicate`` copies of every
    document under doc ids salted by the seed (``s<seed>#<id>#<rep>``).
    With ``replicate == 1`` the ids stay the bare numeric ids."""
    raw = spark.createDataFrame(docs[["doc_id", "text"]])
    if replicate > 1:
        reps = spark.range(replicate).select(F.col("id").alias("rep"))
        raw = raw.crossJoin(reps).select(
            F.concat_ws("#", F.lit(f"s{seed}"), "doc_id", "rep").alias("doc_id"), "text"
        )
    return attach_media_bytes(corpus_from_documents(raw))


def skewed_corpus(
    spark: SparkSession,
    seed: int,
    n_docs: int,
    heavy_every: int,
    heavy_spans: int,
    noise_rows: int,
) -> DataFrame:
    """Light documents ``[text, media, text]``; every ``heavy_every``-th
    document (seeded phase) has ``heavy_spans`` spans, seven in eight of
    them media. Text spans draw 5-16 vocabulary words by hash of
    ``(seed, doc_id, span, word)``; one in four is led by more boilerplate
    words than content words, so the classifier drops it."""
    vocab = F.split(F.lit(" ".join(VOCAB)), " ")
    phase = seed % heavy_every
    d = spark.range(0, n_docs, 1, spark.sparkContext.defaultParallelism * 2).select(
        F.format_string("k%d-%07d", F.lit(seed), F.col("id")).alias("doc_id"),
        ((F.col("id") + phase) % heavy_every == 0).alias("heavy"),
    )
    n_spans = F.when(F.col("heavy"), F.lit(heavy_spans)).otherwise(F.lit(3))

    def span(j):
        media = F.when(F.col("heavy"), j % 8 != 0).otherwise(j == 1)
        h = F.xxhash64(F.lit(seed), F.col("doc_id"), j)
        text = F.array_join(
            F.transform(
                F.sequence(F.lit(0), (F.pmod(h, F.lit(12)) + 4).cast("int")),
                lambda w: F.element_at(
                    vocab,
                    (F.pmod(F.xxhash64(h, w), F.lit(len(VOCAB))) + 1).cast("int"),
                ),
            ),
            " ",
        )
        boiler = " ".join(BOILER + BOILER[:7])  # 17 words: outnumbers any content
        text = F.when(F.pmod(h, F.lit(4)) == 0, F.concat_ws(" ", F.lit(boiler), text)).otherwise(text)
        return F.struct(
            F.when(media, "media").otherwise("text").alias("kind"),
            F.when(media, "").otherwise(text).alias("text"),
            F.when(
                media, F.concat(F.lit("mem://"), F.col("doc_id"), F.lit("/"), j.cast("string"))
            ).otherwise("").alias("media_ref"),
            j.cast("int").alias("offset"),
            F.lit(None).cast("binary").alias("media_bytes"),
        )

    docs = d.select("doc_id", F.transform(F.sequence(F.lit(0), n_spans - 1), span).alias("spans"))
    return attach_media_bytes(docs, noise_rows=noise_rows)


def heavy_doc_ids(seed: int, n_docs: int, heavy_every: int) -> list[str]:
    phase = seed % heavy_every
    return [
        f"k{seed}-{i:07d}" for i in range(n_docs) if (i + phase) % heavy_every == 0
    ]
