"""Partitioned docs table (S1/S2 pruning) + F10 dead-letter routing."""

import pyspark.sql.functions as F

from xhs_ocr_spark.extraction import datagen, oracle, semantics
from xhs_ocr_spark.extraction.pipeline import extract_spans_with_deadletter
from xhs_ocr_spark.sources import read_docs, read_recent, write_docs_table


def test_partition_pruning(spark, tmp_path):
    docs = datagen.generate_corpus(spark, 200, partitions=4)
    path = str(tmp_path / "docs_table")
    write_docs_table(docs, path, n_buckets=4)

    full = read_docs(spark, path)
    recent = read_recent(spark, path, since="2024-01-25")
    assert 0 < recent.count() < full.count()

    # physical evidence: the pruned scan reads fewer files/partitions
    def files_read(df):
        return df.select(F.input_file_name()).distinct().count()

    assert files_read(recent) < files_read(full)
    # and the predicate shows as a partition filter, not a data filter
    plan = recent._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "collect_date" in plan


def test_deadletter_matches_oracle(spark):
    n = 200
    docs = datagen.generate_corpus(spark, n, partitions=4)
    ok, dead = extract_spans_with_deadletter(docs)

    # expected dead letters: media refs where the oracle extractor fails
    exp_dead = set()
    for i in range(n):
        doc_id, spans = datagen.corpus_rows(i)
        for s in spans:
            if s["kind"] == "media" and semantics.extract_media_span(s["media_ref"]) is None:
                exp_dead.add((doc_id, s["media_ref"], s["offset"]))
    got_dead = {(r["doc_id"], r["media_ref"], r["order"]) for r in dead.collect()}
    assert got_dead == exp_dead
    assert exp_dead, "corpus must exercise the dead-letter path"
    assert dead.select("reason").distinct().collect()[0]["reason"] == "all_masks_failed"

    # ok rows + dead rows partition the media spans exactly
    exp_ok = {
        (d, k, t, m, o)
        for d, seq in oracle.extract_corpus(
            [datagen.corpus_rows(i) for i in range(n)]
        ).items()
        for (k, t, m, o) in seq
    }
    got_ok = {
        (r["doc_id"], r["kind"], r["text"], r["media_ref"], r["order"]) for r in ok.collect()
    }
    assert got_ok == exp_ok


def test_null_media_ref_dead_letter_has_reason(spark):
    """No-bytes fallback: a NULL media_ref maps to NaN under
    na_action='ignore'; the reason must still be 'all_masks_failed', not
    NULL (ADVICE r3 — `t is not None` was True for NaN)."""
    docs = spark.createDataFrame(
        [
            (
                "d0",
                [
                    {"kind": "media", "text": None, "media_ref": None, "offset": 0},
                    {"kind": "text", "text": "plain words here", "media_ref": None,
                     "offset": 1},
                ],
            )
        ],
        schema="doc_id string, spans array<struct<kind:string,text:string,"
               "media_ref:string,offset:int>>",
    )
    ok, dead = extract_spans_with_deadletter(docs)
    rows = dead.collect()
    assert len(rows) == 1
    assert rows[0]["reason"] == "all_masks_failed"
    assert [r["kind"] for r in ok.collect()] == ["text"]
