"""Round-2 coverage closers: X12/X15 column fns, bilingual field mapping,
K7 snapshot expiry, IVF k-means + nprobe, SimHash-64."""

import os

import numpy as np
import pyspark.sql.functions as F

from xhs_ocr_spark.functions.columns import (
    FIELD_MAPPING_CN2EN,
    FIELD_MAPPING_EN2CN,
    rename_with_mapping,
    source_type_col,
    unescape_link,
)
from xhs_ocr_spark.operators import simsearch as SS
from xhs_ocr_spark.operators.dedup_fuzzy import simhash64_hex
from xhs_ocr_spark.sinks.merge_table import ParquetMergeTable


def test_unescape_link(spark):
    df = spark.createDataFrame(
        [("https:*x.com*note*abc",), ("no-stars",)], "link string"
    )
    got = [r[0] for r in df.select(unescape_link(F.col("link"))).collect()]
    assert got == ["https:/x.com/note/abc", "no-stars"]


def test_source_type_constants(spark):
    df = spark.createDataFrame([("xhs",), ("weibo",), ("tiktok",)], "app string")
    got = dict(
        df.select("app", source_type_col(F.col("app")).alias("s")).collect()
    )
    # db/__init__.py:46-50
    assert got == {
        "xhs": "1894230222988058625",
        "weibo": "1948663593734004737",
        "tiktok": "",
    }


def test_bilingual_field_mapping_roundtrip(spark):
    assert FIELD_MAPPING_CN2EN["曝光数"] == "exposure_count"
    assert FIELD_MAPPING_EN2CN["exposure_count"] == "曝光数"
    df = spark.createDataFrame([(1, 2)], "`曝光数` long, `点赞数` long")
    en = rename_with_mapping(df, FIELD_MAPPING_CN2EN)
    assert en.columns == ["exposure_count", "likes"]
    back = rename_with_mapping(en, FIELD_MAPPING_EN2CN)
    assert back.columns == ["曝光数", "点赞数"]


def test_expire_snapshots(spark, tmp_path):
    t = ParquetMergeTable(spark, str(tmp_path / "tbl"))
    for i in range(5):
        t.insert_ignore(spark.createDataFrame([(i,)], "v long"), ["v"])
    assert t.snapshot_ids() == [1, 2, 3, 4, 5]
    expired = t.expire_snapshots(keep_n=2)
    assert expired == [1, 2, 3]
    assert t.snapshot_ids() == [4, 5]
    # LATEST still readable, full history preserved in the newest snapshot
    assert t.read().count() == 5
    # keep_n larger than history: no-op
    assert t.expire_snapshots(keep_n=10) == []


def test_kmeans_deterministic_and_sane():
    rng = np.random.default_rng(7)
    X = rng.normal(size=(200, 8))
    c1 = SS.kmeans_centroids(X, 4)
    c2 = SS.kmeans_centroids([list(r) for r in X], 4)
    assert c1 == c2  # list-of-lists vs ndarray, same result
    assert len(c1) == 4 and len(c1[0]) == 8


def test_ivf_nprobe_recall_monotone(spark):
    """nprobe=8 (all cells) must reproduce brute force exactly; nprobe=1
    recall <= nprobe=2 recall <= 1.0 (the standard IVF trade)."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = SS.fit_centroids_spark(e)
    queries = e.where(F.col("vec_id") < 5)
    truth = {
        (r["q_id"], r["n_id"])
        for r in SS.cosine_topk(e, queries).collect()
    }

    def recall(nprobe):
        got = {
            (r["q_id"], r["n_id"])
            for r in SS.ivf_topk_kmeans(e, queries, cents, nprobe=nprobe).collect()
        }
        return len(got & truth) / len(truth)

    r1, r2, r4, rall = recall(1), recall(2), recall(4), recall(SS.N_CELLS)
    assert rall == 1.0
    assert r1 <= r2 <= r4 <= 1.0


def test_simhash64_matches_python(spark):
    import hashlib
    import re

    ws_re = re.compile(r"\s+", re.ASCII)

    def py_sh64(t):
        words = [w for w in ws_re.split(t) if w]
        votes = [0] * 64
        for w in words:
            h = int(hashlib.md5(w.encode()).hexdigest()[:16], 16)
            for j in range(64):
                votes[j] += 1 if (h >> j) & 1 else -1
        v = 0
        for j in range(64):
            if votes[j] > 0:
                v |= 1 << j
        return format(v, "016x")

    texts = ["the quick brown fox", "a b c", "", "  ", "single"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r[0] for r in df.select(simhash64_hex(F.col("text"))).collect()]
    assert got == [py_sh64(t) for t in texts]


def test_flagship_fixture_current():
    """The committed q30 fixture must match what the oracle computes NOW
    (guards against semantics drift without a fixture rebuild)."""
    import sys

    import duckdb

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "scripts"))
    import build_fixtures as BF

    path = os.path.join(repo, "fixtures", "expected_flagship_sf0.001.parquet")
    want = sorted(BF.expected_rows("/root/testdata/sf0.001"))
    got = sorted(
        tuple(r)
        for r in duckdb.sql(f"SELECT * FROM read_parquet('{path}')").fetchall()
    )
    assert got == want
