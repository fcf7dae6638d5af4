"""E2E correctness gate: Spark pipeline vs pure-Python reference oracle.

BASELINE.json invariant: per-document span-sequence equality on
(kind, text, media_ref, order), match rate 100%.
"""

import pyspark.sql.functions as F

from xhs_ocr_spark.extraction import datagen, oracle
from xhs_ocr_spark.extraction.pipeline import extract_spans, extract_spans_flat
from xhs_ocr_spark.extraction.raw_image import render_media_image

N_DOCS = 400


def _expected():
    rows = [datagen.corpus_rows(i) for i in range(N_DOCS)]
    return oracle.extract_corpus(rows)


def test_span_sequence_equality(spark):
    docs = datagen.generate_corpus(spark, N_DOCS, partitions=8)
    got_rows = extract_spans(docs).collect()
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans_out"]]
        for r in got_rows
    }
    exp = _expected()
    exp = {k: v for k, v in exp.items() if v}  # docs with zero surviving spans produce no row
    assert set(got) == set(exp)
    mismatched = [d for d in exp if got[d] != exp[d]]
    assert mismatched == [], f"{len(mismatched)} docs mismatched; first: {mismatched[:3]}"


def test_flat_variant_matches(spark):
    docs = datagen.generate_corpus(spark, 100, partitions=4)
    flat = extract_spans_flat(docs)
    got = {}
    for r in flat.collect():
        got.setdefault(r["doc_id"], []).append((r["kind"], r["text"], r["media_ref"], r["order"]))
    exp = {k: v for k, v in oracle.extract_corpus([datagen.corpus_rows(i) for i in range(100)]).items() if v}
    for d, seq in exp.items():
        assert sorted(got[d], key=lambda t: t[3]) == seq


def test_skew_docs_are_spread(spark):
    # media-heavy docs must not pin a single partition: the media route
    # repartitions by (doc_id, offset), so one heavy doc's spans land on
    # many partitions.
    docs = datagen.generate_corpus(spark, datagen.SKEW_EVERY + 1, partitions=4)
    heavy_id = datagen.doc_id_for(0)
    from xhs_ocr_spark.extraction.pipeline import explode_spans

    flat = explode_spans(docs).where((F.col("kind") == "media") & (F.col("doc_id") == heavy_id))
    spread = flat.repartition(16, "doc_id", "offset").withColumn(
        "pid", F.spark_partition_id()
    )
    n_partitions = spread.select("pid").distinct().count()
    assert n_partitions > 4


def test_unknown_span_kinds_match_oracle(spark):
    """A span whose kind is neither text nor media, or is NULL, is dropped
    by the engine and the oracle alike — even when it carries plain text
    or a decodable payload."""

    def unknown(kind, offset):
        ref = f"mem://unknown/{offset}"
        return {
            "kind": kind, "text": "plain words that a text span would keep", "media_ref": ref,
            "offset": offset, "media_bytes": render_media_image(ref),
        }

    rows = []
    for i in range(1, 31):
        doc_id, spans = datagen.corpus_rows(i)
        rows.append((doc_id, spans + [unknown("video", len(spans)), unknown(None, len(spans) + 1)]))
    rows.append(("doc-unknown-only", [unknown("video", 0), unknown(None, 1)]))
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans_out"]]
        for r in extract_spans(spark.createDataFrame(rows, datagen.DOCS_SCHEMA)).collect()
    }
    exp = {k: v for k, v in oracle.extract_corpus(rows).items() if v}
    assert "doc-unknown-only" not in exp and len(exp) == 30
    assert got == exp
