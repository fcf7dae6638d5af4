"""Round-4 operators: benchmark decontamination + paragraph-level dedup."""

import pyspark.sql.functions as F
from pyspark.sql import Row

from xhs_ocr_spark.operators import dedup_fuzzy as DF

EVAL_SENT = "the quick brown fox jumps over the lazy dog"


def test_decontam_flags_planted_eval_sentence(spark):
    """A document containing a planted eval sentence is flagged; an
    unrelated document is not; a document with trace overlap stays
    below the threshold."""
    eval_df = spark.createDataFrame([Row(text=EVAL_SENT)])
    corpus = spark.createDataFrame(
        [
            Row(doc_id="leak", text="prefix words " + EVAL_SENT + " suffix words"),
            Row(doc_id="clean", text="completely different content about spark plans"),
            Row(doc_id="trace", text="the quick brown cat sleeps all day long here"),
        ]
    )
    out = {
        r["id"]: r.asDict()
        for r in DF.decontam_flags_join(corpus, "doc_id", "text", eval_df).collect()
    }
    assert out["leak"]["contaminated"] == 1
    assert out["leak"]["n_eval_hits"] >= 7  # the full planted sentence overlaps
    assert out["clean"]["contaminated"] == 0 and out["clean"]["n_eval_hits"] == 0
    assert out["trace"]["contaminated"] == 0
    assert 0 < out["trace"]["n_eval_hits"] < out["trace"]["n_shingles"] // 2


def test_paragraph_dedup_planted_repeats(spark, monkeypatch):
    """A paragraph repeated within and across documents keeps only its
    first occurrence (min (doc_id, para_idx)); unique paragraphs all
    keep."""
    boiler = "subscribe to our newsletter now"  # 5 words -> needs PARAGRAPH_SIZE 5
    corpus = spark.createDataFrame(
        [
            Row(doc_id="a", text=f"{boiler} unique alpha words here one {boiler}"),
            Row(doc_id="b", text=f"{boiler} other beta content words two"),
            Row(doc_id="c", text="totally fresh paragraph without any repeats"),
        ]
    )
    monkeypatch.setattr(DF, "PARAGRAPH_SIZE", 5)
    out = DF.paragraph_dedup(corpus, "doc_id", "text").collect()
    rows = {(r["doc_id"], r["para_idx"]): (r["fp"], r["keep"]) for r in out}
    boiler_rows = [
        k for k, (fp, _) in rows.items() if fp == rows[("a", 0)][0]
    ]
    assert sorted(boiler_rows) == [("a", 0), ("a", 2), ("b", 0)]
    assert rows[("a", 0)][1] == 1  # first occurrence keeps
    assert rows[("a", 2)][1] == 0 and rows[("b", 0)][1] == 0  # repeats dropped
    assert all(
        keep == 1 for k, (fp, keep) in rows.items() if k not in boiler_rows
    )


def test_paragraph_windows_cover_text_exactly(spark):
    """Window partitioning: every word lands in exactly one paragraph;
    short texts produce one short paragraph; empty text produces none."""
    corpus = spark.createDataFrame(
        [
            Row(doc_id="nine", text="w1 w2 w3 w4 w5 w6 w7 w8 w9"),
            Row(doc_id="two", text="only two"),
            Row(doc_id="empty", text="   "),
        ]
    )
    paras = corpus.select(
        "doc_id", DF.paragraphs(F.col("text"), size=4).alias("ps")
    ).collect()
    got = {r["doc_id"]: r["ps"] for r in paras}
    assert got["nine"] == ["w1 w2 w3 w4", "w5 w6 w7 w8", "w9"]
    assert got["two"] == ["only two"]
    assert got["empty"] == [""]  # filtered out downstream by paragraph_dedup
    deduped = DF.paragraph_dedup(corpus, "doc_id", "text")
    assert deduped.where(F.col("doc_id") == "empty").count() == 0


# -- sharded degenerate-bucket pair expansion (round-3 verdict item 4) --------


def _pairs(df):
    return sorted((r["id_a"], r["id_b"]) for r in df.collect())


def _bucket_rows(spark, sizes):
    rows = []
    for b, n in enumerate(sizes):
        rows.extend(Row(band=f"b{b}", id=f"{b:02d}_{i:06d}") for i in range(n))
    return spark.createDataFrame(rows)


def test_sharded_pairs_shard_invariance(spark, monkeypatch):
    """The pair set is invariant to n_shards — a pure memory/placement
    knob (round-3 verdict item 4)."""
    rows = _bucket_rows(spark, [1, 5, 40, 200])
    baseline = _pairs(DF.sharded_bucket_pairs(rows, ["band"]))
    # expected: all intra-bucket pairs of the 5/40/200 buckets
    import itertools

    exp = []
    for b, n in ((1, 5), (2, 40), (3, 200)):
        ids = [f"{b:02d}_{i:06d}" for i in range(n)]
        exp.extend(itertools.combinations(sorted(ids), 2))
    assert baseline == sorted(exp)
    for n_shards in (1, 3, 64):
        monkeypatch.setattr(DF, "DEFAULT_SHARDS", n_shards)
        assert _pairs(DF.sharded_bucket_pairs(rows, ["band"])) == baseline, n_shards


def test_degenerate_bucket_bounded_aggregate_rows(spark, monkeypatch):
    """A single bucket far above shard_cap: (1) no aggregate row holds
    more than ~|bucket|/n_shards ids, (2) the expanded pair set is exact."""
    n, shards = 3000, 8
    rows = spark.range(n).select(
        F.lit("hot").alias("band"),
        F.format_string("id%06d", F.col("id")).alias("id"),
    )
    # the internal (key, shard) aggregate the function relies on — assert
    # the row bound directly (hash spread ~uniform: 2x slack)
    g = (
        rows.withColumn(
            "_shard", F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(shards))
        )
        .groupBy("band", "_shard")
        .agg(F.count("*").alias("sz"))
    )
    max_row = g.agg(F.max("sz")).collect()[0][0]
    assert max_row <= 2 * n // shards

    monkeypatch.setattr(DF, "DEFAULT_SHARDS", shards)
    pairs = DF.sharded_bucket_pairs(rows, ["band"])
    assert pairs.count() == n * (n - 1) // 2
    # and spot-check exactness on the extremes
    sample = pairs.where(F.col("id_a") == "id000000")
    assert sample.count() == n - 1


def test_degenerate_million_id_bucket_streams(spark, monkeypatch):
    """10^6 ids in ONE bucket: the quadratic pair set (5*10^11) is
    inherently unmaterializable — the guard's job is that the plan
    STREAMS with bounded per-row memory instead of building a multi-GB
    collect_set row. A limited read through the full sharded path must
    complete quickly."""
    n = 1_000_000
    rows = spark.range(n).select(
        F.lit("hot").alias("band"),
        F.format_string("id%09d", F.col("id")).alias("id"),
    )
    monkeypatch.setattr(DF, "DEFAULT_SHARDS", 64)
    out = DF.sharded_bucket_pairs(rows, ["band"])
    assert out.limit(100_000).count() == 100_000


# -- deterministic stratified sampling ----------------------------------------


def test_stratified_sample_rates_and_nesting(spark):
    """Hash-gate sampling: per-stratum rates honored within tolerance,
    membership deterministic, and lower-rate samples NESTED inside
    higher-rate ones (bucket < 300 subset of bucket < 500)."""
    from xhs_ocr_spark.operators import textops as TX

    n = 4000
    df = spark.range(n).select(
        F.col("id").cast("string").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en").otherwise("other").alias("lang"),
    )

    def sample(rates, default):
        return {
            r["doc_id"]
            for r in TX.stratified_sample(
                df, "doc_id", F.col("lang"), rates, default
            ).collect()
        }

    a = sample({"en": 300}, 1000)
    b = sample({"en": 500}, 1000)
    assert a == sample({"en": 300}, 1000)  # deterministic
    en_ids = {str(i) for i in range(0, n, 3)}
    a_en, b_en = a & en_ids, b & en_ids
    assert a_en < b_en  # nested: raising the rate only ADDS rows
    assert abs(len(a_en) / len(en_ids) - 0.3) < 0.05
    # non-en stratum kept whole at default 1000, identically in both samples
    others = {str(i) for i in range(n)} - en_ids
    assert (a - en_ids) == others and (b - en_ids) == others


# -- near-dup clustering (pairs -> components -> decisions) -------------------


def test_neardup_components_chain_and_star(spark):
    """A chain (a-b-c-d) needs multiple propagation rounds to converge;
    a star and a singleton pair label directly; disjoint components
    stay disjoint."""
    pairs = spark.createDataFrame(
        [
            ("a", "b"), ("b", "c"), ("c", "d"),          # chain: comp a
            ("hub", "s1"), ("hub", "s2"), ("hub", "s3"),  # star: comp hub
            ("x", "y"),                                   # pair: comp x
        ],
        schema="id_a string, id_b string",
    )
    got = {r["id"]: r["comp"] for r in DF.neardup_components(pairs).collect()}
    assert got == {
        "a": "a", "b": "a", "c": "a", "d": "a",
        "hub": "hub", "s1": "hub", "s2": "hub", "s3": "hub",
        "x": "x", "y": "x",
    }


def test_neardup_components_long_chain_converges(spark, monkeypatch):
    """A 30-node path graph: worst case for min-label propagation (29
    rounds) — the forced distributed loop runs until no label changes."""
    n = 30
    pairs = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i+1:02d}") for i in range(n - 1)],
        schema="id_a string, id_b string",
    )
    monkeypatch.setattr(DF, "NEARDUP_DRIVER_MAX_EDGES", -1)  # distributed loop
    out = DF.neardup_components(pairs).collect()
    assert len(out) == n
    assert {r["comp"] for r in out} == {"n00"}
