"""Structured Streaming: incremental extraction (availableNow) into the
MERGE sink matches the batch pipeline; a second run with new files
processes only the delta; watermarked dedup keeps one row per key."""

import os

import pyspark.sql.functions as F

from xhs_ocr_spark.extraction import datagen, oracle
from xhs_ocr_spark.streaming import (
    extraction_stream,
    streaming_dedup_within_watermark,
)


def _write_docs(spark, tmp, lo, hi, name):
    df = spark.createDataFrame(
        [datagen.corpus_rows(i) for i in range(lo, hi)], schema=datagen.DOCS_SCHEMA
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/in/{name}")


def _expected(lo, hi):
    exp = oracle.extract_corpus([datagen.corpus_rows(i) for i in range(lo, hi)])
    return {(d, k, t, m, o) for d, seq in exp.items() for (k, t, m, o) in seq}


def test_incremental_extraction_into_merge_sink(spark, tmp_path):
    """Streaming -> MERGE sink: availableNow catch-up lands spans in the
    BucketedMergeTable; a REPLAYED micro-batch (foreachBatch's
    at-least-once window: crash after write, before checkpoint commit)
    re-merges to zero duplicates; a re-trigger READS only the delta (the
    sink's insert_ignore would mask a re-read of old files, so the
    source's input row count is checked directly)."""
    from xhs_ocr_spark.extraction.checkpointed import make_span_sink

    tmp = str(tmp_path)
    os.makedirs(f"{tmp}/in", exist_ok=True)
    _write_docs(spark, tmp, 0, 40, "batch0")
    sink = make_span_sink(spark, f"{tmp}/table", n_buckets=8)

    def run_once():
        q = (
            extraction_stream(spark, f"{tmp}/in/*", f"{tmp}/ck", sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return sum(p["numInputRows"] for p in q.recentProgress)

    def rows():
        return {
            (r["doc_id"], r["kind"], r["text"], r["media_ref"], r["order"])
            for r in sink.read().collect()
        }

    run_once()
    assert rows() == _expected(0, 40)

    # simulate the replay window: the same extracted batch merged again
    n_before = sink.read().count()
    from xhs_ocr_spark.extraction.pipeline import extract_spans_with_deadletter

    replay = extract_spans_with_deadletter(spark.read.parquet(f"{tmp}/in/batch0"))[0]
    sink.insert_ignore(replay)
    assert sink.read().count() == n_before  # exactly-once via the merge key

    # delta files: only the new docs are processed and merged
    _write_docs(spark, tmp, 40, 60, "batch1")
    assert run_once() == 20  # the 20 delta docs, none of batch0 re-read
    assert rows() == _expected(0, 60)
    assert sink.read().count() == len(_expected(0, 60))  # multiset equality


def test_streaming_content_dedup_rejects_mutated_replay(spark, tmp_path):
    """In-flight content dedup (round-4 verdict item 7): a batch
    re-collected under NEW doc_ids (same span content) must be rejected
    by the content-fingerprint guard before extraction — the merge key
    alone cannot see it. Genuinely new docs in the same trigger pass."""
    from xhs_ocr_spark.extraction.checkpointed import make_span_sink

    tmp = str(tmp_path)
    os.makedirs(f"{tmp}/in", exist_ok=True)
    _write_docs(spark, tmp, 0, 30, "batch0")
    sink = make_span_sink(spark, f"{tmp}/table", n_buckets=8)

    def run_once():
        q = (
            extraction_stream(
                spark, f"{tmp}/in/*", f"{tmp}/ck", sink, dedup_watermark="1 hour"
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()
    assert {
        (r["doc_id"], r["kind"], r["text"], r["media_ref"], r["order"])
        for r in sink.read().collect()
    } == _expected(0, 30)

    # batch1 = docs 0..10 MUTATED to new ids (a re-scrape) + new docs 30..40
    mutated = (
        spark.read.parquet(f"{tmp}/in/batch0")
        .where(F.col("doc_id") < "doc-00000010")  # ids are zero-padded strings
        .withColumn("doc_id", F.concat(F.lit("dup_"), F.col("doc_id")))
    )
    mutated.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/in/batch1")
    _write_docs(spark, tmp, 30, 40, "batch2")
    run_once()

    got = {
        (r["doc_id"], r["kind"], r["text"], r["media_ref"], r["order"])
        for r in sink.read().collect()
    }
    assert got == _expected(0, 40)  # new docs landed...
    assert not any(d.startswith("dup_") for d, *_ in got)  # ...mutated replay rejected


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Duplicates within the watermark window are dropped with BOUNDED
    state; each unique key survives exactly once."""
    tmp = str(tmp_path)
    rows = [
        (k, v, f"2024-01-01 10:{m:02d}:00")
        for k, v, m in [
            ("a", 1, 0), ("a", 2, 5), ("b", 3, 1), ("b", 4, 2), ("c", 5, 9),
        ]
    ]
    df = spark.createDataFrame(rows, "k string, v long, ts_s string").select(
        "k", "v", F.col("ts_s").cast("timestamp").alias("ts")
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/in")
    stream = spark.readStream.schema(df.schema).parquet(f"{tmp}/in")
    q = (
        streaming_dedup_within_watermark(stream, ["k"], watermark="30 minutes")
        .writeStream.format("parquet")
        .option("path", f"{tmp}/out")
        .option("checkpointLocation", f"{tmp}/ck")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.read.parquet(f"{tmp}/out").collect()
    assert sorted(r["k"] for r in got) == ["a", "b", "c"]
    # batch path: plain dedup
    assert streaming_dedup_within_watermark(df, ["k"]).count() == 3
    assert os.path.exists(f"{tmp}/ck")
