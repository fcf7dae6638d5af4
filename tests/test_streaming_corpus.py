"""Streaming incremental corpus funnel (streaming/incremental.py:
streaming_corpus_funnel): micro-batches dedup against the ACCUMULATED
probe indexes, so the final survivor set matches a full batch re-run
over everything ingested — the streaming form of the batch parity
contract in test_incremental_pipeline — also across a crash and
restart mid-batch, and an out-of-order micro-batch fails the query."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import DataFrameWriter

from test_incremental_pipeline import _ids, _mk, planted_corpus_and_batch
from xhs_ocr_spark.plans.corpus_pipeline import EVAL_MOD, corpus_stages
from xhs_ocr_spark.streaming.incremental import streaming_corpus_funnel


def _arrive(spark, tmp_path, rows: dict[str, str], i: int) -> None:
    """Land ``rows`` as the single parquet file in/batch<i>.parquet. The
    file source orders by modification time, pinned to ``i`` so arrival
    files process in index order."""
    src = str(tmp_path / f"f{i}")
    _mk(spark, rows).coalesce(1).write.mode("overwrite").parquet(src)
    parts = [f for f in os.listdir(src) if f.endswith(".parquet")]
    assert len(parts) == 1
    os.makedirs(str(tmp_path / "in"), exist_ok=True)
    dst = str(tmp_path / "in" / f"batch{i}.parquet")
    os.rename(os.path.join(src, parts[0]), dst)
    os.utime(dst, (1000000 + i, 1000000 + i))


def _run(spark, tmp_path, eval_df) -> None:
    q = streaming_corpus_funnel(
        spark,
        str(tmp_path / "in"),
        str(tmp_path / "state"),
        str(tmp_path / "ck"),
        eval_df,
    ).trigger(availableNow=True).start()
    q.awaitTermination(600)


def test_streaming_funnel_matches_batch_rerun(spark, tmp_path, monkeypatch):
    corpus, batch = planted_corpus_and_batch()
    both = {**corpus, **batch}

    # two arrival files: batch 0 (the "corpus") processes first
    _arrive(spark, tmp_path, corpus, 0)
    _arrive(spark, tmp_path, batch, 1)

    # the FIXED external benchmark stand-in: same set the batch funnel
    # derives (every EVAL_MOD-th doc of everything ever ingested)
    eval_df = _mk(
        spark, {k: v for k, v in both.items() if int(k) % EVAL_MOD == 0}
    )

    # crash batch 1 between its index writes: its survivors and fp/
    # delta are written, para/ is not
    state = str(tmp_path / "state")
    write_parquet = DataFrameWriter.parquet
    crashed = []

    def crash_once(self, path, *args, **kwargs):
        if path.endswith("para/batch=1") and not crashed:
            crashed.append(path)
            raise RuntimeError("injected crash before the para/ write")
        return write_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", crash_once)
    with pytest.raises(StreamingQueryException):
        _run(spark, tmp_path, eval_df)
    assert crashed
    assert os.path.exists(f"{state}/survivors/batch=1/_SUCCESS")
    assert os.path.exists(f"{state}/fp/batch=1/_SUCCESS")
    assert not os.path.exists(f"{state}/para/batch=1")

    # restart on the same checkpoint: batch 1 replays under its own id
    _run(spark, tmp_path, eval_df)

    survivors = spark.read.parquet(f"{state}/survivors")
    got = _ids(survivors)
    assert survivors.count() == len(got)  # the replay left no duplicates

    # ground truth: the full batch re-run over everything, at the same
    # (decontam ∩ stratified-sample) stage
    full = corpus_stages(_mk(spark, both))
    want = _ids(
        full["decontam"].join(
            full["stratified_sample"].select("doc_id"), "doc_id", "left_semi"
        )
    )
    assert got == want

    # the probe indexes accumulated across batches (fp index covers both
    # arrival files' exact-dedup survivors)
    n_fp = spark.read.parquet(f"{state}/fp").count()
    assert n_fp == len(_ids(full["exact_dedup"]))

    # second ingest of the SAME content under new ids: everything dies
    # against the accumulated indexes, survivors unchanged
    replay = {str(int(k) + 200): v for k, v in batch.items() if k != "111"}
    _arrive(spark, tmp_path, replay, 2)
    _run(spark, tmp_path, eval_df)

    got2 = _ids(spark.read.parquet(f"{state}/survivors"))
    # every re-collected doc is an exact dup of an indexed fp -> no new
    # survivors EXCEPT docs that earlier died to within-batch ordering
    # or sampling... which are exact dups of indexed content too, so:
    assert got2 == want


def test_streaming_funnel_rejects_out_of_order_batch(spark, tmp_path):
    # "10" arrives after "9" but orders before it as a string
    text = "the quick brown fox jumps over the lazy dog near the river bank"
    _arrive(spark, tmp_path, {"9": text}, 0)
    _arrive(spark, tmp_path, {"10": text}, 1)
    eval_df = spark.createDataFrame([], "doc_id string, text string")
    with pytest.raises(StreamingQueryException, match="max corpus id '9'"):
        _run(spark, tmp_path, eval_df)
