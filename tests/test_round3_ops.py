"""Round-3 closers: q29 hot-bucket guard (verdict item 1), spherical
k-means IVF recall (item 3), vectorized simhash64 (item 8)."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from xhs_ocr_spark.operators import simsearch as SS


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.fixture(scope="module")
def small_embeddings(spark):
    rng = np.random.default_rng(11)
    rows = []
    # 10 clusters of 6 near-identical vectors + 40 singletons, dim 8
    for c in range(10):
        base = rng.normal(size=8)
        for v in range(6):
            jit = base + rng.normal(scale=0.01, size=8)
            rows.append((c * 6 + v, [float(x) for x in jit]))
    for u in range(40):
        rows.append((100 + u, [float(x) for x in rng.normal(size=8)]))
    return _vecs(spark, rows)


def test_lsh_near_neighbors_hot_bucket_completes(spark, monkeypatch):
    """A degenerate corpus (every vector identical -> ONE sign-bit bucket)
    must stream through the sharded grouped verify instead of
    sending |bucket|^2 cosines to a single self-join task (round-2 verdict
    item 1). 2000 identical vectors -> C(2000,2) pairs, all cos=1."""
    n = 2000
    vec = [1.0, 0.5, -0.25, 0.125]
    docs = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(v) for v in vec]).cast("array<float>").alias("embedding"),
    )
    monkeypatch.setattr(SS, "LSH_DIM", len(vec))
    cnt = SS.lsh_near_neighbors(docs, n_planes=4, min_cos=0.99).count()
    assert cnt == n * (n - 1) // 2


def test_lsh_near_neighbors_no_bucket_join(spark, small_embeddings, monkeypatch):
    """The round-2 scale defect was a bucket-key join of ROW-LEVEL
    vectors (|b|^2 cosines pinned on one task). The r7 grouped-verify
    shape self-joins AGGREGATED shard rows on the bucket key — at most
    n_shards rows per bucket, each bounded to O(|bucket|/n_shards)
    collected structs — and one mapInArrow stage emits verified pairs.
    Pin the real hazards: rows aggregate before any bucket-key join
    (partial_collect_list + the _shard machinery), no row-LEVEL vector
    column ever appears in a join key, and exactly one python stage."""
    monkeypatch.setattr(SS, "LSH_DIM", 8)
    df = SS.lsh_near_neighbors(small_embeddings, n_planes=4, min_cos=0.9)
    assert df.count() > 0  # the clusters must actually collide
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    import re

    assert "partial_collect_list" in plan  # aggregate-before-join shape
    assert len(re.findall(r"\(\d+\) MapInArrow", plan)) == 1
    for m in re.finditer(r"Left keys \[\d+\]: \[([^\]]*)\]", plan):
        if "bucket" in m.group(1):
            assert "_s1" in plan or "_shard" in plan, (
                f"bucket-key join outside the sharded aggregate shape: {m.group(0)}"
            )
        assert "vec" not in m.group(1), f"row-level vector join: {m.group(0)}"


def test_lsh_near_neighbors_pairs_invariant_to_n_shards(spark, small_embeddings, monkeypatch):
    """n_shards is a memory/placement knob only: with one shard every
    bucket verifies through the same-shard upper triangle, with 3 or 16
    mostly through the cross-shard min/max emission, and the verified
    pair set must be the same. min_cos=0 keeps every same-bucket pair
    whose vectors point the same way, not just the planted clusters."""
    from xhs_ocr_spark.operators import dedup_fuzzy as DF

    monkeypatch.setattr(SS, "LSH_DIM", 8)

    def pairs(n_shards):
        monkeypatch.setattr(DF, "DEFAULT_SHARDS", n_shards)
        return sorted(
            (r["id_a"], r["id_b"])
            for r in SS.lsh_near_neighbors(small_embeddings, n_planes=4, min_cos=0.0).collect()
        )

    base = pairs(1)
    assert len(base) >= 10 * 15  # every planted cluster collides
    assert all(a < b for a, b in base) and len(set(base)) == len(base)
    for n_shards in (3, 16):
        assert pairs(n_shards) == base, n_shards


def test_ivf_sample_mod_is_bounded():
    """ADVICE r2: the k-means fit sample must be capped, not a constant
    fraction — at 10^12 rows the old vec_id%7 sample collects ~10^11
    vectors to the driver."""
    assert SS.ivf_sample_mod(0) == SS.SAMPLE_MOD
    assert SS.ivf_sample_mod(700_000) == SS.SAMPLE_MOD  # small: 1/7 intact
    for n in (10**7, 10**9, 10**12):
        mod = SS.ivf_sample_mod(n)
        assert n / mod <= SS.IVF_SAMPLE_TARGET + mod  # ~capped sample


def test_mask_broadcast_memoized(spark):
    """ADVICE r2: one broadcast per (session, hw), not one per wave."""
    from xhs_ocr_spark.sources.mask_library import broadcast_mask_library

    a = broadcast_mask_library(spark)
    b = broadcast_mask_library(spark)
    assert a is b


def test_ivf_recall_floor_spherical(spark):
    """Round-2 verdict item 3: with the spherical fit + 2-cell corpus
    multi-assignment, recall@3 at nprobe=4 must clear 0.8 on the bench
    corpus (was 0.40-0.47 with the unnormalized fit)."""
    e = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    queries = e.where(F.col("vec_id") < 5)
    truth = {
        (r["q_id"], r["n_id"])
        for r in SS.cosine_topk(e, queries).collect()
    }
    cents = SS.fit_centroids_spark(e)
    got = {
        (r["q_id"], r["n_id"])
        for r in SS.ivf_topk_kmeans(e, queries, cents, nprobe=4).collect()
    }
    assert len(got & truth) / len(truth) >= 0.8


def test_repetition_ratios_handcrafted(spark):
    """q42 semantics on known text: 'a b c a b c a b c' has 9 words /
    3 distinct -> dup_word = (9-3)*1000 DIV 9 = 666; 7 trigrams / 3
    distinct ('a b c','b c a','c a b') -> (7-3)*1000 DIV 7 = 571."""
    import pyspark.sql.functions as F
    from pyspark.sql import Row

    from xhs_ocr_spark.operators import textops as TX

    df = spark.createDataFrame(
        [Row(doc_id=1, text="a b c a b c a b c"), Row(doc_id=2, text="x y"),
         Row(doc_id=3, text="unique words only here")]
    )
    ws = TX.words(F.col("text"))
    tg = TX.trigrams(F.col("text"))
    m = df.select(
        "doc_id",
        F.size(ws).alias("n"), F.size(F.array_distinct(ws)).alias("dw"),
        F.size(tg).alias("t"), F.size(F.array_distinct(tg)).alias("dt"),
    ).select(
        "doc_id",
        F.expr("CASE WHEN n > 0 THEN ((n - dw) * 1000) DIV n ELSE 0 END").alias("w"),
        F.expr("CASE WHEN t > 0 THEN ((t - dt) * 1000) DIV t ELSE 0 END").alias("g"),
    )
    got = {r["doc_id"]: (r["w"], r["g"]) for r in m.collect()}
    assert got[1] == (666, 571)
    assert got[2] == (0, 0)   # below trigram threshold, no word repeats
    assert got[3] == (0, 0)


def test_pii_scrub_nontrivial(spark):
    """q43 on PII-laden text (the sf corpus has none, so the oracle row
    only proves the no-op path): URLs scrub before emails so a URL
    userinfo part is not double-counted; both counts and the rewritten
    string are pinned, and DuckDB (RE2) agrees with Spark (Java regex)."""
    import duckdb
    import pyspark.sql.functions as F

    from xhs_ocr_spark import queries as Q

    text = "ping a.b+c@ex-ample.org via https://u:pw@t.co/q?a=1 or b@c.io end"
    df = spark.createDataFrame([("d1", text)], "doc_id string, text string")
    no_url = F.regexp_replace(F.col("text"), Q._URL_RE, "[URL]")
    got = df.select(
        F.size(F.regexp_extract_all(F.col("text"), F.lit(Q._URL_RE), 0)).alias("u"),
        F.size(F.regexp_extract_all(no_url, F.lit(Q._EMAIL_RE), 0)).alias("e"),
        F.regexp_replace(no_url, Q._EMAIL_RE, "[EMAIL]").alias("s"),
    ).collect()[0]
    assert (got["u"], got["e"]) == (1, 2)
    assert got["s"] == "ping [EMAIL] via [URL] or [EMAIL] end"

    con = duckdb.connect()
    dk = con.execute(
        r"""SELECT len(regexp_extract_all(t, 'https?://[^ \t\n]+')),
                   len(regexp_extract_all(regexp_replace(t, 'https?://[^ \t\n]+', '[URL]', 'g'),
                                          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+')),
                   regexp_replace(regexp_replace(t, 'https?://[^ \t\n]+', '[URL]', 'g'),
                                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '[EMAIL]', 'g')
            FROM (SELECT ? AS t)""",
        [text],
    ).fetchone()
    assert dk == (1, 2, got["s"])
