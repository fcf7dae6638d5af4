"""Hand-computed expectations for J1/J2 merges and dedup (db/data_dms.py)."""

import pyspark.sql.functions as F
from pyspark.sql import Row

from xhs_ocr_spark.operators import pick_one, related_merge, unrelated_merge


def test_related_merge_last_nonempty_wins(spark):
    t1 = spark.createDataFrame(
        [Row(k="a", x="1", y=""), Row(k="b", x="2", y="20")]
    )
    t2 = spark.createDataFrame(
        [Row(k="a", x="", y="10", z="100"), Row(k="c", x="3", y="", z="300")]
    )
    got = {r["k"]: r.asDict() for r in related_merge([t1, t2], ["k"]).collect()}
    # a: x from t1 (t2 empty), y from t2, z from t2
    assert got["a"] == {"k": "a", "x": "1", "y": "10", "z": "100"}
    # b: only in t1 -> kept, z filled ''
    assert got["b"] == {"k": "b", "x": "2", "y": "20", "z": ""}
    # c: only in t2 -> kept full-outer
    assert got["c"] == {"k": "c", "x": "3", "y": "", "z": "300"}


def test_related_merge_both_nonempty_later_wins(spark):
    t1 = spark.createDataFrame([Row(k="a", v="old")])
    t2 = spark.createDataFrame([Row(k="a", v="new")])
    got = related_merge([t1, t2], ["k"]).collect()[0]
    assert got["v"] == "new"


def test_related_merge_composite_key_three_tables(spark):
    t1 = spark.createDataFrame([Row(k1="a", k2="x", u="1")])
    t2 = spark.createDataFrame([Row(k1="a", k2="x", v="2")])
    t3 = spark.createDataFrame([Row(k1="a", k2="y", u="9", v="")])
    rows = {(r["k1"], r["k2"]): r.asDict() for r in related_merge([t1, t2, t3], ["k1", "k2"]).collect()}
    assert rows[("a", "x")] == {"k1": "a", "k2": "x", "u": "1", "v": "2"}
    assert rows[("a", "y")] == {"k1": "a", "k2": "y", "u": "9", "v": ""}


def test_unrelated_merge_union_fill(spark):
    t1 = spark.createDataFrame([Row(k="a", x="1")])
    t2 = spark.createDataFrame([Row(k="b", y="2")])
    got = sorted(
        (r.asDict() for r in unrelated_merge([t1, t2]).collect()), key=lambda r: r["k"]
    )
    assert got == [
        {"k": "a", "x": "1", "y": ""},
        {"k": "b", "x": "", "y": "2"},
    ]


def test_dedup_first_and_last(spark):
    df = spark.createDataFrame(
        [
            Row(k="a", seq=1, v="first"),
            Row(k="a", seq=3, v="last"),
            Row(k="a", seq=2, v="mid"),
            Row(k="b", seq=9, v="only"),
            # a tie on seq: the rest of the row decides
            Row(k="c", seq=5, v="y"),
            Row(k="c", seq=5, v="x"),
            # NULL seq sorts first (ASC NULLS FIRST / DESC NULLS LAST)
            Row(k="d", seq=1, v="one"),
            Row(k="d", seq=None, v="null"),
        ],
        "k string, seq long, v string",
    )
    first = {r["k"]: r["v"] for r in pick_one(df, ["k"], ["seq"]).collect()}
    last = {r["k"]: r["v"] for r in pick_one(df, ["k"], ["seq"], last=True).collect()}
    assert first == {"a": "first", "b": "only", "c": "x", "d": "null"}
    assert last == {"a": "last", "b": "only", "c": "y", "d": "one"}


def test_merge_pipeline_dag(spark):
    from xhs_ocr_spark.plans import run_merge_pipeline

    keys = ["account_id", "device_ip", "collect_date", "url"]

    def tbl(rows):
        return spark.createDataFrame(rows)

    vt = tbl([Row(account_id="u1", device_ip="d1", collect_date="20240101", url="l1", exposure="5")])
    vb = tbl([Row(account_id="u1", device_ip="d1", collect_date="20240101", url="l1", likes="7")])
    nt = tbl([Row(account_id="u2", device_ip="d1", collect_date="20240101", url="l2", exposure="3")])
    nb = tbl([Row(account_id="u2", device_ip="d1", collect_date="20240101", url="l2", likes="4")])
    ntr = tbl([Row(account_id="u2", device_ip="d1", collect_date="20240101", url="l2", source_homepage="h:1")])
    vtr = tbl([Row(account_id="u9", device_ip="d9", collect_date="20240102", url="l9", source_homepage="h:2")])

    out = {r["account_id"]: r.asDict() for r in run_merge_pipeline(vt, vb, nt, nb, ntr, vtr, keys).collect()}
    assert out["u1"]["exposure"] == "5" and out["u1"]["likes"] == "7"
    assert out["u1"]["source_homepage"] == ""
    assert out["u2"]["exposure"] == "3" and out["u2"]["source_homepage"] == "h:1"
    assert out["u9"]["source_homepage"] == "h:2" and out["u9"]["exposure"] == ""


def test_column_functions(spark):
    from xhs_ocr_spark.functions import chinese_number_to_long, label_value_pairs, normalize_ocr_col

    df = spark.createDataFrame(
        [Row(t="曝光数 1o0秒", tag="note_data_overview_top", app="xhs"),
         Row(t="12s", tag="video_data_overview_top", app="tiktok"),
         Row(t="首页 12", tag="note_traffic_analysis", app="xhs")]
    )
    got = [r["n"] for r in df.select(normalize_ocr_col(F.col("t"), F.col("tag"), F.col("app")).alias("n")).collect()]
    assert got == ["100", "12", "首页12"]

    df2 = spark.createDataFrame([Row(v="1.5万"), Row(v="85%"), Row(v="123")])
    got2 = [r["c"] for r in df2.select(chinese_number_to_long(F.col("v")).alias("c")).collect()]
    assert got2 == ["15000", "85%", "123"]

    df3 = spark.createDataFrame([Row(a=["l1", "v1", "l2", "v2", "l3", "v3", "l4", "v4"])])
    got3 = df3.select(label_value_pairs(F.col("a")).alias("p")).collect()[0]["p"]
    assert got3 == "l1:v1|l2:v2|l3:v3|l4:v4"
