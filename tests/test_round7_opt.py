"""Round-7 optimization equivalence pins.

The optimization round rewrites hot per-pair expressions into
codegen-friendly forms; every rewrite here must be BIT-identical, not
approximately equal — the DuckDB oracle compares hashes and the >=
threshold predicates are data-dependent at double precision.
"""

import numpy as np
import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from xhs_ocr_spark.operators import simsearch as SS


@pytest.fixture(scope="module")
def rand_vecs(spark):
    rng = np.random.default_rng(7)
    rows = [
        (i, [float(x) for x in rng.normal(scale=3.0, size=64).astype(np.float32)])
        for i in range(300)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_norm_hoist_bit_identical(spark, rand_vecs):
    """The r7 per-pair rewrite — dot(a,b) / (nrm_a * nrm_b) with each
    norm computed in a separate per-vector projection — must equal the
    inline cosine(a,b) EXACTLY (same sqrt values, same multiply/divide),
    not approximately: >= threshold predicates flip on 1-ulp drift."""
    a, b = F.col("embedding"), F.reverse(F.col("embedding"))
    staged = rand_vecs.select(
        F.col("vec_id"),
        F.col("embedding"),
        SS.norm(a).alias("nrm_a"),
        SS.norm(b).alias("nrm_b"),
    )
    got = staged.select(
        SS.cosine(a, b).alias("inline"),
        (SS.dot(a, b) / (F.col("nrm_a") * F.col("nrm_b"))).alias("hoisted"),
    ).collect()
    for r in got:
        # exact equality — bit-identical doubles, not approx
        assert r["inline"] == r["hoisted"]


def test_union_find_matches_iterative_components(spark, monkeypatch):
    """The r7 driver-side union-find route (edge count under the cap)
    must produce the exact labels of the distributed min-label
    propagation — including multi-hop chains, where comp = min id is
    only reachable transitively."""
    import numpy as np

    from xhs_ocr_spark.operators import dedup_fuzzy as DF

    rng = np.random.default_rng(23)
    edges = set()
    for start in range(0, 400, 20):  # chains of 20 (diameter > 1 hop)
        for i in range(start, start + 19):
            edges.add((i, i + 1))
    for _ in range(150):  # random extra edges
        a, b = rng.integers(0, 600, size=2)
        if a != b:
            edges.add((int(min(a, b)), int(max(a, b))))
    pairs = spark.createDataFrame(
        [(f"d{a:04d}", f"d{b:04d}") for a, b in sorted(edges)],
        "id_a string, id_b string",
    )
    fast = {
        (r["id"], r["comp"]) for r in DF.neardup_components(pairs).collect()
    }
    monkeypatch.setattr(DF, "NEARDUP_DRIVER_MAX_EDGES", -1)  # force iterative
    # random bridges chain the 20-node paths into larger-diameter
    # components; propagation needs diameter rounds (union-find doesn't)
    slow = {
        (r["id"], r["comp"])
        for r in DF.neardup_components(pairs).collect()
    }
    assert fast == slow
    assert len(fast) > 0


@st.composite
def _graphs(draw):
    """Up to 40 nodes: a chain cut at random points (so components have
    diameters the distributed loop needs several rounds for) plus random
    extra edges, with ids permuted so the min id sits anywhere."""
    n = draw(st.integers(2, 40))
    perm = draw(st.permutations(range(n)))
    cuts = draw(st.sets(st.integers(1, n - 1), max_size=n // 4))
    edges = {(i - 1, i) for i in range(1, n) if i not in cuts}
    extra = draw(
        st.lists(st.tuples(st.integers(0, n - 1), st.integers(0, n - 1)), max_size=n // 2)
    )
    edges |= {(a, b) for a, b in extra if a != b}
    return n, sorted((f"d{perm[a]:02d}", f"d{perm[b]:02d}") for a, b in edges)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(_graphs())
def test_components_routes_agree_on_random_graphs(spark, graph):
    """The driver union-find route and the forced distributed route
    return identical labels on any graph."""
    from unittest import mock

    from xhs_ocr_spark.operators import dedup_fuzzy as DF

    _, edges = graph
    pairs = spark.createDataFrame(edges, "id_a string, id_b string")
    driver = sorted(tuple(r) for r in DF.neardup_components(pairs).collect())
    with mock.patch.object(DF, "NEARDUP_DRIVER_MAX_EDGES", -1):
        dist = sorted(
            tuple(r) for r in DF.neardup_components(pairs).collect()
        )
    assert driver == dist


def test_ngram_window_guard_matches_python_jaccard(spark, monkeypatch):
    """q27's one df guard drops a planted hot shingle (df > max_df) and
    keeps the rest: the result equals a pure-Python Jaccard in which the
    intersection counts only shared distinct 3-grams with df <= max_df,
    while each side's size counts all its distinct 3-grams. The plan
    holds exactly one Window (the guard) and no anti-join."""
    import math
    import re
    from collections import Counter
    from itertools import combinations

    from xhs_ocr_spark.operators import dedup_fuzzy as DF

    max_df, threshold = 10, 0.3
    rows = []
    # 40 docs all sharing the hot trigram "zz zz zz" (df 40 > max_df 10),
    # plus paired near-dups that must still be found without it
    for i in range(40):
        extra = f"alpha{i % 4} beta{i % 4} gamma{i % 4} delta{i % 4}"
        rows.append((f"d{i:03d}", f"zz zz zz {extra}", "en"))
    docs = spark.createDataFrame(rows, "doc_id string, text string, lang string")
    monkeypatch.setattr(DF, "NGRAM_MAX_DF", max_df)
    out = DF.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=threshold, scope_col="lang")
    # the plan before execution: an executed AQE plan prints its initial
    # plan next to the final one, so every node would count twice
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 1
    assert "LeftAnti" not in plan
    got = sorted((r["id_a"], r["id_b"], r["jacc_x1000"]) for r in out.collect())

    grams = {}
    for doc_id, text, _lang in rows:
        ws = text.split()
        grams[doc_id] = {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}
    df = Counter(g for gs in grams.values() for g in gs)
    want = []
    for a, b in combinations(sorted(grams), 2):
        inter = sum(1 for g in grams[a] & grams[b] if df[g] <= max_df)
        jacc = inter / (len(grams[a]) + len(grams[b]) - inter)
        if jacc >= threshold:
            want.append((a, b, math.floor(jacc * 1000 + 0.5)))
    assert got == want
    assert got  # the near-dup pairs survive the drop


def test_lsh_near_neighbors_matches_hof_verify(spark, rand_vecs):
    """The norm-precompute + unrolled-dot verify must reproduce the old
    per-pair cosine() filter's pair set exactly (threshold chosen low so
    many pairs sit near it)."""
    from xhs_ocr_spark.operators.dedup_fuzzy import sharded_bucket_pairs

    new = sorted(
        (r["id_a"], r["id_b"])
        for r in SS.lsh_near_neighbors(rand_vecs, n_planes=4, min_cos=0.05).collect()
    )
    # the pre-r7 shape: pairs joined to raw vectors, HOF cosine per pair
    v = rand_vecs.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    b = v.select("id", SS.lsh_bucket(F.col("vec"), 64, 4).alias("bucket"))
    pairs = sharded_bucket_pairs(b, ["bucket"])
    old = sorted(
        (r["id_a"], r["id_b"])
        for r in pairs.join(
            v.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a")), "id_a"
        )
        .join(v.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b")), "id_b")
        .where(SS.cosine(F.col("vec_a"), F.col("vec_b")) >= 0.05)
        .select("id_a", "id_b")
        .collect()
    )
    assert new == old
    assert len(new) > 0
