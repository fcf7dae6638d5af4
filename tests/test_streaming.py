"""Structured Streaming: incremental extraction (availableNow) into the
MERGE sink matches the batch pipeline; a second run with new files
processes only the delta."""

import os

import pyspark.sql.functions as F

from xhs_ocr_spark.extraction import datagen, oracle
from xhs_ocr_spark.streaming import extraction_stream, windowed_event_counts


def _write_docs(spark, tmp, lo, hi, name):
    df = spark.createDataFrame(
        [datagen.corpus_rows(i) for i in range(lo, hi)], schema=datagen.DOCS_SCHEMA
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/in/{name}")


def _expected(lo, hi):
    exp = oracle.extract_corpus([datagen.corpus_rows(i) for i in range(lo, hi)])
    return {(d, k, t, m, o) for d, seq in exp.items() for (k, t, m, o) in seq}


def test_windowed_counts_batch_parity(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = windowed_event_counts(ev, window="1 hour", watermark="2 hours")
    rows = out.collect()
    assert sum(r["n"] for r in rows) == ev.count()
    # spot-check one window against a direct groupBy
    direct = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .count()
        .select(F.col("w.start").alias("window_start"), "event_type", F.col("count"))
    )
    d = {(r["window_start"], r["event_type"]): r["count"] for r in direct.collect()}
    for r in rows:
        assert d[(r["window_start"], r["event_type"])] == r["n"]


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
    from xhs_ocr_spark.extraction.pipeline import extract_spans_flat

    replay = extract_spans_flat(spark.read.parquet(f"{tmp}/in/batch0"))
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


def test_streaming_sessions_batch_parity(spark):
    """session_window on a batch frame agrees with the lag+cumsum
    sessionizer (gap_sec = window_gap - 1: session_window's end is
    exclusive, so an exact-gap arrival opens a new session there)."""
    from xhs_ocr_spark.operators.sessionize import sessionize
    from xhs_ocr_spark.streaming import streaming_sessions

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    sw = streaming_sessions(ev, gap="30 minutes")
    batch = sessionize(ev, "user_id", "ts", "event_id", gap_sec=1799)
    got = {
        (r["user_id"], r["n_sessions"], r["n_events"])
        for r in sw.groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"), F.sum("n_events").alias("n_events"))
        .collect()
    }
    exp = {
        (r["user_id"], r["n_sessions"], r["n_events"])
        for r in batch.groupBy("user_id")
        .agg(
            F.countDistinct("session_idx").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
        .collect()
    }
    assert got == exp


def test_streaming_sessions_append_mode_emits_finalized(spark, tmp_path):
    from datetime import datetime

    from pyspark.sql import Row

    from xhs_ocr_spark.streaming import streaming_sessions

    tmp = str(tmp_path)
    rows = [
        Row(event_id=1, ts=datetime(2024, 1, 1, 0, 0), user_id=1,
            event_type="view", value=1.0, props="{}"),
        Row(event_id=2, ts=datetime(2024, 1, 1, 0, 10), user_id=1,
            event_type="view", value=1.0, props="{}"),      # same session
        Row(event_id=3, ts=datetime(2024, 1, 1, 2, 0), user_id=1,
            event_type="view", value=1.0, props="{}"),      # new session
        Row(event_id=9, ts=datetime(2024, 1, 2, 0, 0), user_id=99,
            event_type="view", value=1.0, props="{}"),      # watermark pusher
    ]
    src = spark.createDataFrame(rows)
    src.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/in")
    stream = spark.readStream.schema(src.schema).parquet(f"{tmp}/in")
    q = (
        streaming_sessions(stream, gap="30 minutes", watermark="1 hour")
        .writeStream.format("parquet")
        .option("path", f"{tmp}/out")
        .option("checkpointLocation", f"{tmp}/ck")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["user_id"], r["first_event_id"], r["n_events"])
        for r in spark.read.parquet(f"{tmp}/out").collect()
    }
    # user 1's two sessions end long before the watermark (max ts - 1h),
    # so append mode emits them finalized; the pusher's own session may
    # or may not have emitted — assert only on the finalized ones
    assert {(1, 1, 2), (1, 3, 1)} <= got
    assert all(u == 99 for (u, f, n) in got - {(1, 1, 2), (1, 3, 1)})
