"""The corpus funnel's shared pieces: the one LSH band derivation
(dedup_fuzzy.lsh_band_rows) against the portable band composition over
minhash_signature, the incremental form's ingest-order precondition, and
the batch funnel's statically empty probe indexes."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from xhs_ocr_spark.operators import dedup_fuzzy as DF
from xhs_ocr_spark.plans import corpus_pipeline as CP

CORE = "alpha beta gamma delta epsilon zeta"
# Python's str.strip() removes all of these, Spark's trim none of them;
# only \x0b is ASCII \s (a separator on both engines)
EDGE_CHARS = ["\xa0", "\u3000", "\x0b", "\x1c", "\x1d", "\x1e", "\x1f"]
TEXTS = (
    [e + CORE for e in EDGE_CHARS]
    + [CORE + e for e in EDGE_CHARS]
    + [e + "one two" + e for e in EDGE_CHARS]
    + ["", " ", " \t\n\x0b ", "one", "one two", "  one two  ", CORE, None]
)


def _jvm_band_keys(text_col, bands: int = DF.DEFAULT_BANDS, k: int = DF.DEFAULT_HASHES):
    """Band b = md5(b || '#' || minhashes b*r+1..b*r+r joined by ','),
    composed in the JVM over minhash_signature (the DuckDB twin's form)."""
    sig = DF.minhash_signature(text_col)
    r = k // bands
    return F.array(
        *[
            F.md5(F.concat(F.lit(f"{b}#"), F.concat_ws(",", F.slice(sig, b * r + 1, r))))
            for b in range(bands)
        ]
    )


def test_lsh_band_rows_match_jvm_band_composition(spark):
    df = spark.createDataFrame(list(enumerate(TEXTS)), "id long, text string")
    got = sorted(tuple(r) for r in DF.lsh_band_rows(df, "id", "text").collect())
    want = sorted(
        tuple(r)
        for r in df.where(F.col("text").isNotNull())
        .select("id", F.explode(_jvm_band_keys(F.col("text"))).alias("band"))
        .collect()
    )
    assert got == want
    # NULL text yields no band rows at all
    null_id = TEXTS.index(None)
    assert null_id not in {i for i, _ in got}
    assert len(got) == DF.DEFAULT_BANDS * (len(TEXTS) - 1)


def test_incremental_rejects_out_of_order_string_ids(spark):
    text = "the quick brown fox jumps over the lazy dog near the river bank"
    corpus = spark.createDataFrame([("9", text)], "doc_id string, text string")
    batch = spark.createDataFrame([("10", text)], "doc_id string, text string")
    eval_df = corpus.unionByName(batch).where(
        F.col("doc_id").cast("bigint") % CP.EVAL_MOD == 0
    )
    with pytest.raises(ValueError, match="'9' >= min batch id '10'"):
        CP.incremental_batch_stages(
            batch, CP.funnel_probe_indexes(CP.corpus_stages(corpus)), eval_df
        )


def test_batch_funnel_plan_has_no_probe_joins(spark):
    docs = spark.createDataFrame(
        [(f"{i:03d}", f"document {i} " + CORE) for i in range(12)],
        "doc_id string, text string",
    )
    stages = CP.corpus_stages(docs, stage_checkpoints=False)
    for name in ("exact_dedup", "paragraph_dedup", "neardup_dedup"):
        df = stages[name]
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "LeftAnti" not in plan, name
