"""Deterministic synthetic interleaved-document corpus.

Shape matches BASELINE.json input_hint exactly:
    doc_id: string,
    spans:  array<struct<kind string, text string, media_ref string, offset int>>

Two generators:
- ``corpus_rows(i)``: pure Python, one document from its index — shared by
  the Spark generator and the test oracle (no wall clock, no RNG state).
- ``generate_corpus(spark, n_docs)``: distributed generation via
  ``mapInPandas`` over ``spark.range`` — no driver-side loops, scales to any
  n_docs; at 100 TB this is replaced by reading the real Iceberg table.

Skew: every SKEW_EVERY-th document is media-heavy (HEAVY_SPANS spans,
mostly media) to model the reference's multi-screenshot accounts and force
the pipeline's skew handling to matter (BASELINE.json north_star).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from ..session import spread

SPAN_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
        # raw RGBA screenshot payload (media spans only; see raw_image.py).
        # Binary flows Arrow-batched end-to-end — no temp files (K6).
        T.StructField("media_bytes", T.BinaryType()),
    ]
)
DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", T.ArrayType(SPAN_SCHEMA)),
    ]
)

CONTENT_VOCAB = (
    "spark table query join agg window sort merge batch stream filter scan "
    "row column key value hash data fast slow big small group order line part"
).split()
BOILER_VOCAB = (
    "nav menu footer copyright subscribe cookie login signup advertisement "
    "banner sidebar tracking"
).split()

SKEW_EVERY = 53
HEAVY_SPANS = 48
CHUNK_WORDS = 7  # words per text span in corpus_from_documents


def _h64(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:16], 16)


def doc_id_for(i: int) -> str:
    return f"doc-{i:08d}"


def corpus_rows(i: int) -> tuple[str, list[dict]]:
    """Document #i: (doc_id, spans). Pure function of i."""
    doc_id = doc_id_for(i)
    h = _h64("gen:" + doc_id)
    heavy = i % SKEW_EVERY == 0
    n_spans = HEAVY_SPANS if heavy else 2 + (h >> 8) % 8
    spans = []
    for j in range(n_spans):
        hj = _h64(f"gen:{doc_id}:{j}")
        is_media = (hj % 3 == 0) or (heavy and j % 4 != 0)
        if is_media:
            from .raw_image import render_media_image

            ref = f"mem://{doc_id}/{j}"
            spans.append(
                {
                    "kind": "media",
                    "text": "",
                    "media_ref": ref,
                    "offset": j,
                    "media_bytes": render_media_image(ref),
                }
            )
        else:
            n_words = 5 + hj % 12
            words = [CONTENT_VOCAB[_h64(f"w:{doc_id}:{j}:{k}") % len(CONTENT_VOCAB)] for k in range(n_words)]
            if hj % 4 == 0:
                # boilerplate-dominated span: >50% boiler tokens -> dropped
                n_boiler = n_words + 1
                boiler = [
                    BOILER_VOCAB[_h64(f"b:{doc_id}:{j}:{k}") % len(BOILER_VOCAB)]
                    for k in range(n_boiler)
                ]
                words = boiler + words
            spans.append(
                {
                    "kind": "text",
                    "text": " ".join(words),
                    "media_ref": "",
                    "offset": j,
                    "media_bytes": None,
                }
            )
    return doc_id, spans


def generate_corpus(spark: SparkSession, n_docs: int, partitions: int | None = None) -> DataFrame:
    """Distributed corpus: one row per document, input_hint schema."""
    parts = partitions or max(spark.sparkContext.defaultParallelism, 8)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [corpus_rows(int(i)) for i in pdf["id"]]
            yield pd.DataFrame(
                {"doc_id": [r[0] for r in rows], "spans": [r[1] for r in rows]}
            )

    return (
        spark.range(0, n_docs, 1, parts)
        .mapInPandas(gen, schema=DOCS_SCHEMA)
    )


def corpus_from_documents(documents: DataFrame) -> DataFrame:
    """Derive an interleaved corpus from the driver-provided ``documents``
    parquet table (doc_id, text, ...): split each text into CHUNK_WORDS
    word chunks -> text spans; insert a deterministic media span every 3rd
    position. Pure DataFrame ops (no Python row loop) so Catalyst sees the
    whole derivation; used by ``entry()`` and the benchmarks.

    The RAW rows are spread across cores before any derivation (r7):
    the testdata parquet is a single scan partition, so without the
    exchange the split/chunk work — and, for a non-outer downstream
    explode, the PUSHED ``size(spans) > 0`` guard, which re-evaluates
    the whole derivation per row — serializes on one task. Consumers
    that explode the spans should prefer explode_outer so that guard
    never exists (spans is never empty: split() yields >= 1 token,
    hence >= 1 chunk). A second exchange between split and
    chunking was A/B'd and is NOT needed: CollapseProject declines to
    inline a multiply-referenced non-cheap column, so ``words``
    evaluates once per row either way (one exchange 0.55s vs two 0.75s
    on the sf1.0 q13 shape).
    """
    d = spread(
        documents.select(F.col("doc_id").cast("string").alias("doc_id"), "text"), "doc_id"
    ).select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("words"))
    n_chunks = (F.size("words") + F.lit(CHUNK_WORDS - 1)) / F.lit(CHUNK_WORDS)
    d = d.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(0), n_chunks.cast("int") - 1),
            lambda c: F.concat_ws(
                " ", F.slice(F.col("words"), c * CHUNK_WORDS + 1, CHUNK_WORDS)
            ),
        ).alias("chunks"),
    )
    # every 3rd span slot is media (media_ref derived from doc_id + slot)
    spans = F.transform(
        F.col("chunks"),
        lambda chunk, j: F.when(
            j % 3 == F.lit(2),
            F.struct(
                F.lit("media").alias("kind"),
                F.lit("").alias("text"),
                F.concat(F.lit("mem://"), F.col("doc_id"), F.lit("/"), j.cast("string")).alias(
                    "media_ref"
                ),
                j.cast("int").alias("offset"),
                F.lit(None).cast("binary").alias("media_bytes"),
            ),
        ).otherwise(
            F.struct(
                F.lit("text").alias("kind"),
                chunk.alias("text"),
                F.lit("").alias("media_ref"),
                j.cast("int").alias("offset"),
                F.lit(None).cast("binary").alias("media_bytes"),
            )
        ),
    )
    return d.select("doc_id", spans.alias("spans"))


def attach_media_bytes(docs: DataFrame, noise_rows: int = 0) -> DataFrame:
    """Datagen stage: render the raw RGBA payload for every media span
    (raw_image.render_media_image). Python by necessity — image synthesis
    is input generation, not engine work; real deployments read tables
    that already carry the bytes, so benchmarks materialize this once
    (bench.staged_corpus) and never measure it."""

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .raw_image import render_media_image

        for pdf in batches:
            new_spans = []
            for spans in pdf["spans"]:
                row = []
                for s in spans:
                    s = dict(s)
                    if s["kind"] == "media":
                        s["media_bytes"] = render_media_image(
                            s["media_ref"], noise_rows=noise_rows
                        )
                    else:
                        s["media_bytes"] = None
                    row.append(s)
                new_spans.append(row)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "spans": new_spans})

    return docs.mapInPandas(render, schema=DOCS_SCHEMA)
