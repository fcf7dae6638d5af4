"""Hot-bucket guards for the fuzzy-dedup operators (round-2 item 4).

The round-1 verdict flagged the old in-expression pair array's
O(|bucket|^2)-elements-in-one-row blowup: a degenerate LSH band or a
Zipfian-hot shingle posting would build a multi-billion-element array in
a single task. These tests pin the guarded behavior:
- expand_bucket_pairs is exact for every bucket size, one row per pair;
- a 10k-duplicate hot key COMPLETES through the sharded path, and a
  2k-doc posting under max_df expands fully;
- ngram max_df drops are observable, never silent.
"""

import pyspark.sql.functions as F
import pytest

from xhs_ocr_spark.operators import dedup_fuzzy as DF


def _corpus(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )


@pytest.fixture(scope="module")
def mixed_corpus(spark):
    # 40 docs in 8 near-duplicate families (same band) + 20 unique docs
    texts = []
    for fam in range(8):
        base = f"family {fam} shares almost all of its words " + " ".join(
            f"w{fam}{j}" for j in range(10)
        )
        for v in range(5):
            texts.append(base + f" tail{v}")
    for u in range(20):
        texts.append(" ".join(f"unique{u}x{j}" for j in range(12)))
    return _corpus(spark, texts)


def _pairs(df):
    return sorted((r["id_a"], r["id_b"]) for r in df.collect())


def test_expand_bucket_pairs_exact(spark):
    # buckets of 1, 2, 9 and 200 sorted ids in ONE frame (disjoint id
    # ranges): each yields exactly its C(n,2) pairs, the 1-id bucket none
    sizes = (1, 2, 9, 200)
    buckets = spark.createDataFrame(
        [(list(range(k * 1000, k * 1000 + n)),) for k, n in enumerate(sizes)],
        "ids array<bigint>",
    )
    got = _pairs(DF.expand_bucket_pairs(buckets))
    want = sorted(
        (k * 1000 + i, k * 1000 + j)
        for k, n in enumerate(sizes)
        for i in range(n)
        for j in range(i + 1, n)
    )
    assert got == want
    assert len(got) == sum(n * (n - 1) // 2 for n in sizes)


def test_hot_key_completes(spark):
    """10k docs all landing in ONE lsh band: the old in-expression path
    would build a ~5*10^7-element struct array in one row; the guarded
    path must stream it. We only count pairs (C(10k,2) rows is fine to
    aggregate, silly to collect)."""
    n = 10_000
    docs = spark.range(n).select(
        F.col("id"),
        F.lit("identical boilerplate text repeated across the corpus").alias(
            "text"
        ),
    )
    cnt = DF.lsh_candidate_pairs(docs, "id", "text").count()
    assert cnt == n * (n - 1) // 2


def test_ngram_large_posting_under_max_df(spark):
    """A 2000-doc posting below max_df expands to all C(2000,2) pairs.
    Every doc holds 3 shingles and shares exactly the hot one, so each
    pair has jaccard 1/5; counted per jacc value, never collected."""
    n = 2000
    docs = spark.range(n).select(
        F.col("id"),
        F.format_string("shared hot phrase u%da u%db", "id", "id").alias("text"),
    )
    out = DF.ngram_jaccard_pairs(docs, "id", "text", threshold=0.2)
    got = [tuple(r) for r in out.groupBy("jacc_x1000").count().collect()]
    assert got == [(200, n * (n - 1) // 2)]


def test_ngram_max_df_drop_is_audited(spark, mixed_corpus, monkeypatch):
    # the families collide in LSH bands and pair up under the default
    # max_df, so the drop below is not vacuous
    assert DF.lsh_candidate_pairs(mixed_corpus, "id", "text").count() > 0
    assert DF.ngram_jaccard_pairs(mixed_corpus, "id", "text", threshold=0.3).count() > 0
    # every family shingle has df=5; max_df=4 drops them all -> no pairs,
    # and the audit query reports the drop count (not silent).
    monkeypatch.setattr(DF, "NGRAM_MAX_DF", 4)
    out = DF.ngram_jaccard_pairs(mixed_corpus, "id", "text", threshold=0.3)
    assert out.count() == 0
    stats = DF.ngram_df_drop_stats(mixed_corpus, "id", "text").collect()[0]
    assert stats["dropped_postings"] > 0
    assert stats["max_posting"] == 40  # "shares almost all..." spans all 8 families x 5 variants
    assert stats["total_postings"] >= stats["dropped_postings"]

