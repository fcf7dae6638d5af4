#!/usr/bin/env python
"""Plan-quality audit: assert the physical plans have the shape we want at
scale and dump them for review.

Checks:
- q01: the date predicate reaches the parquet scan (PushedFilters)
- q04/q05/q06: the pick-one-row aggregate (dedup.pick_one) combines
  map-side (partial_min/partial_max before the shuffle), no Window
- q15: partial aggregation (two HashAggregate levels) + only needed columns read
- q16: dimension joins are broadcast (BroadcastHashJoin, no SortMergeJoin)
- q25/q29: candidate pairs aggregate before the shuffle and come from
  the one (key, shard) self-join (`_s1 <= _s2` join condition)
- q27: one pair-expansion route (no Union, no flatten( pair array) under
  exactly one df-guard Window, and no hot-key anti-join; the max_df
  guard drops no posting on the audited data (ngram_df_drop_stats), the
  regime where the DuckDB oracle is exact
- q28: brute-force top-k broadcasts the query side (BroadcastNestedLoopJoin,
  no sort-merge join) and ranks in a window
- q31/q35: IVF top-k broadcasts the query side (BroadcastHashJoin on
  `cell`, no sort-merge join) and ranks in a window; q31 (one cell per
  side) has no dedupe HashAggregate
- q41: full-outer CN-key merge is one sort-merge join, nothing quadratic
- q42/q43/q46: pure narrow projections (no exchange/join/python)
- q44: decontamination broadcasts the eval shingle set (BroadcastHashJoin,
  no sort-merge join, nothing quadratic, no python)
- q45: first-occurrence dedup aggregates partially before its shuffle
- bucketed sink lookup: partition-prunes in clean AND merge-on-read state
- flagship (flat and full extract_spans plans): the chunk spread hashes
  (doc_id, chunk), the full plan regroups on doc_id (two Exchanges in
  all, one in the flat plan), exactly one parquet scan, exactly one
  python stage (the OCR mapInArrow, which also classifies text) and no
  lambdafunction — an interpreted HOF must not return to the span path

Writes plans to BENCH/plans/*.txt with run-dependent ids renumbered in
order of first appearance (expression ids, plan_id, RDD ids, lambda
variable numbers), so a dump differs from the committed one only when
the plan does; the checks match the raw plan text. Exits nonzero if an
invariant fails.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from xhs_ocr_spark import queries as Q
from xhs_ocr_spark.session import get_spark

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH", "plans")
SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


_RUN_IDS = re.compile(r"(#|plan_id=|RDD\[|\b[xyz]_)(\d+)")


def normalized(text: str) -> str:
    """Renumber each id family in order of first appearance: the
    numbers come from JVM-wide counters, so they shift with whatever ran
    earlier in the session while the plan's structure stays put."""
    ids: dict[str, dict[str, int]] = {}

    def renumber(m: re.Match) -> str:
        family = ids.setdefault(m.group(1), {})
        return f"{m.group(1)}{family.setdefault(m.group(2), len(family) + 1)}"

    return _RUN_IDS.sub(renumber, text)


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    spark = get_spark("explain-audit", cores=8, shuffle_partitions=16)
    failures = []

    def check(name, desc, ok):
        print(f"{'OK ' if ok else 'FAIL'} {name}: {desc}")
        if not ok:
            failures.append((name, desc))

    def audit(name, df, requirements):
        text = plan_of(df)
        with open(f"{OUT}/{name}.txt", "w") as f:
            f.write(normalized(text))
        for desc, pattern, expect in requirements:
            check(name, desc, bool(re.search(pattern, text)) == expect)
        return text

    def n_nodes(text, node):
        # formatted plans list each node twice (tree + detail); count details
        return len(re.findall(rf"^\(\d+\) (?:{node})", text, re.M))

    audit(
        "q01_recent_filter",
        Q.q_recent_filter(spark, SF),
        [
            ("date filter pushed to scan", r"PushedFilters: \[.*GreaterThanOrEqual\(ts", True),
            ("partial agg present", r"HashAggregate", True),
        ],
    )
    # one pick-one-row shape (dedup.pick_one): groupBy(keys) +
    # min|max(struct) combines a hot key map-side; a row_number window
    # would send all of its rows to one task
    for nm, agg in (
        ("q04_dedup_first_wins", "partial_min"),
        ("q05_dedup_last_wins", "partial_max"),
        ("q06_mask_fallback_top1", "partial_min"),
    ):
        audit(
            nm,
            Q.queries()[nm](spark, SF),
            [
                ("no window", r"RunningWindowFunction|\(\d+\) Window", False),
                (f"{agg} before the shuffle", rf"(?s){agg}.*\(\d+\) Exchange", True),
            ],
        )
    audit(
        "q15_lineitem_agg",
        Q.q_lineitem_agg(spark, SF),
        [
            ("shipdate filter pushed", r"PushedFilters: \[.*LessThanOrEqual\(l_shipdate", True),
            ("column pruning (no comment col)", r"l_comment", False),
            # map-side combine: partial_sum below the exchange
            ("partial aggregation before shuffle", r"partial_sum", True),
            ("shuffle on group keys", r"hashpartitioning\(l_returnflag", True),
        ],
    )
    audit(
        "q16_join_revenue",
        Q.q_join_revenue(spark, SF),
        [
            ("dims broadcast", r"BroadcastHashJoin", True),
            ("no sort-merge join", r"SortMergeJoin", False),
        ],
    )
    # q25/q29 candidate pairs come from dedup_fuzzy.shard_pairs, the one
    # (key, shard) self-join (round-4): ids aggregate at (key, shard)
    # granularity, then the AGGREGATED shard rows self-join with
    # s1 <= s2 — joins over row-level data never appear, so every join
    # input sits above a partial_collect_set aggregation and nothing
    # quadratic reaches a single task. The regex invariants pin what
    # regex can see: the aggregation is present, the s1 <= s2 shard
    # self-join is there (both plans), the joins are the equi kind (no
    # nested-loop/cartesian), and no python runs; the
    # O(bucket/n_shards) row bound itself is pinned by
    # tests/test_round4_ops.py's degenerate-bucket tests.
    # r7: band keys derive in ONE Arrow stage (hashlib md5 beats the
    # interpreted HOF signature chains ~1.5x end to end) whose output is
    # localCheckpoint'ed — the sharded expansion's self-join consumes it
    # under both sides, and the checkpoint is what makes the scan + band
    # stage run exactly once (the pre-r7 JVM plan ran its signature
    # derivation twice, once per side). The final plan therefore reads
    # only the checkpointed RDD: no scan, no python; the expansion above
    # it is the unchanged sharded aggregated-self-join, pure JVM.
    audit(
        "q25_lsh_pairs",
        Q.q_lsh_pairs(spark, SF),
        [
            ("partial collect_set before shuffle", r"partial_collect_set", True),
            ("(key, shard) self-join", r"Join condition: \(_s1#\d+L? <= _s2#\d+L?\)", True),
            ("no parquet scan above the band checkpoint", r"(?m)^\(\d+\) Scan parquet", False),
            ("no python above the band checkpoint", r"EvalPython|MapInPandas|MapInArrow", False),
            ("no nested loop / cartesian", r"NestedLoop|CartesianProduct", False),
        ],
    )
    # q29 (r7): vectors aggregate at (bucket, shard) granularity and ONE
    # mapInArrow stage verifies per shard-pair (guide §8 — the payload
    # moves O(n_shards x vectors), never O(pairs x vectors)); row-level
    # data still never joins on the bucket key.
    audit(
        "q29_embedding_neardup",
        Q.queries()["q29_embedding_neardup"](spark, SF),
        [
            ("aggregate-before-join (collect_list)", r"partial_collect_list", True),
            ("(key, shard) self-join", r"Join condition: \(_s1#\d+L? <= _s2#\d+L?\)", True),
            ("grouped-verify arrow stage", r"MapInArrow", True),
            (
                "exactly one python stage",
                r"(?s)\(\d+\) MapInArrow.*\(\d+\) MapInArrow",
                False,
            ),
            ("no row-wise python", r"BatchEvalPython", False),
            ("no nested loop / cartesian", r"NestedLoop|CartesianProduct", False),
        ],
    )
    # q27 (n-gram Jaccard): ONE pair-expansion route — the df guard's
    # single window, collect_set per posting, then a lambda-free
    # posexplode+slice expansion. A Union would mean a second route
    # re-deriving the guarded posting subtree; flatten( is the nested
    # in-expression pair array (CodegenFallback HOF lambdas).
    q27 = audit(
        "q27_ngram_jaccard",
        Q.queries()["q27_ngram_jaccard"](spark, SF),
        [
            ("no union (one expansion route)", r"Union", False),
            ("no in-expression pair array", r"flatten\(", False),
            ("no nested loop / cartesian", r"NestedLoop|CartesianProduct", False),
            ("no hot-key anti-join", r"LeftAnti", False),
        ],
    )
    check("q27_ngram_jaccard", "exactly one df-guard window", n_nodes(q27, "Window") == 1)
    from xhs_ocr_spark.operators.dedup_fuzzy import ngram_df_drop_stats

    drops = ngram_df_drop_stats(
        spark.read.parquet(f"{SF}/documents.parquet"), "doc_id", "text", scope_col="lang"
    ).first()["dropped_postings"]
    check("q27_ngram_jaccard", f"max_df guard drops no posting ({drops})", drops == 0)
    # q28/q31/q35 share simsearch._rank_topk: a broadcast query side
    # (cross join for brute force, `cell` equi-join for IVF) under one
    # row_number window
    audit(
        "q28_cosine_topk",
        Q.q_cosine_topk(spark, SF),
        [
            ("query side broadcast (cross join)", r"BroadcastNestedLoopJoin", True),
            ("no sort-merge join", r"SortMergeJoin", False),
            ("final top-k is a window, not a global sort", r"RunningWindowFunction|Window", True),
        ],
    )
    audit(
        "q31_ivf_ann",
        Q.q_ivf_ann(spark, SF),
        [
            ("query side broadcast", r"BroadcastHashJoin", True),
            ("no sort-merge join", r"SortMergeJoin", False),
            ("final top-k is a window, not a global sort", r"RunningWindowFunction|Window", True),
            # one cell per side: no pair can meet twice, so no dedupe
            ("no dedupe aggregate at nprobe = assign_cells = 1", r"HashAggregate", False),
        ],
    )
    audit(
        "q35_ivf_kmeans",
        Q.q_ivf_kmeans(spark, SF),
        [
            ("query side broadcast", r"BroadcastHashJoin", True),
            ("no sort-merge join", r"SortMergeJoin", False),
            ("final top-k is a window, not a global sort", r"RunningWindowFunction|Window", True),
        ],
    )
    q39 = audit(
        "q39_media_metadata",
        Q.q_media_metadata(spark, SF),
        [("no row-at-a-time python", r"BatchEvalPython", False)],
    )
    # the header decode is ONE MapInArrow stage over the payload column
    # (raw_image.read_headers); the payload render (attach_media_bytes)
    # is the one MapInPandas
    check("q39_media_metadata", "header decode is one arrow stage", n_nodes(q39, "MapInArrow") == 1)
    check("q39_media_metadata", "one pandas stage: the payload render", n_nodes(q39, "MapInPandas") == 1)
    audit(
        "q41_related_key_cn",
        Q.queries()["q41_related_key_cn"](spark, SF),
        [
            # full-outer merge on the 4-column CN key: one shuffle per
            # side (2 exchanges total), sort-merge (full-outer cannot
            # broadcast), nothing quadratic, nothing python
            ("no nested loop / cartesian", r"NestedLoop|CartesianProduct", False),
            ("merge is a single sort-merge join", r"SortMergeJoin", True),
            ("no python anywhere", r"EvalPython|MapInPandas|MapInArrow", False),
        ],
    )
    for nm in ("q42_repetition", "q43_pii_scrub", "q46_stratified_sample"):
        audit(
            nm,
            Q.queries()[nm](spark, SF),
            [
                # pure per-row projections: scan-speed at 10^12 docs
                ("no exchange (narrow plan)", r"\(\d+\) Exchange", False),
                ("no join", r"Join", False),
                ("no python anywhere", r"EvalPython|MapInPandas|MapInArrow", False),
            ],
        )
    audit(
        "q44_decontam",
        Q.queries()["q44_decontam"](spark, SF),
        [
            # broadcast-semi decontamination: eval shingles broadcast
            # (never shuffled), the corpus pays one groupBy(id); an
            # in-plan InSet form measured 50x slower at sf0.1 (see the
            # q_decontam docstring)
            ("eval side broadcast", r"BroadcastHashJoin", True),
            ("no sort-merge join", r"SortMergeJoin", False),
            ("no nested loop / cartesian", r"NestedLoop|CartesianProduct", False),
            ("no python anywhere", r"EvalPython|MapInPandas|MapInArrow", False),
        ],
    )
    audit(
        "q45_para_dedup",
        Q.queries()["q45_para_dedup"](spark, SF),
        [
            # first-occurrence via groupBy(fp)+min(struct) then equi-join:
            # partial aggregation collapses hot fingerprints map-side
            # (a Window row_number would funnel a hot fp into one task)
            ("partial min before shuffle", r"partial_min", True),
            ("no nested loop / cartesian", r"NestedLoop|CartesianProduct", False),
            ("no window over fp", r"RunningWindowFunction|\(\d+\) Window", False),
            ("no python anywhere", r"EvalPython|MapInPandas|MapInArrow", False),
        ],
    )

    audit(
        "q51_token_budget",
        Q.queries()["q51_token_budget"](spark, SF),
        [
            # two-level cumsum: group totals partially aggregate map-side,
            # the tiny offsets frame broadcasts back to the rows, and the
            # per-row window is PARTITIONED (by score+shard) — the
            # single-task global-sort window shape must never appear
            ("group totals partially aggregated", r"partial_sum", True),
            ("offsets broadcast to rows", r"BroadcastHashJoin", True),
            # the per-row Window prints Arguments: [exprs], [PARTITION
            # SPEC], [order spec] — a partition bracket containing _shard
            # followed by an order bracket is the partitioned form (the
            # unpartitioned offsets window over the tiny aggregate ends
            # at its order bracket)
            ("per-row window partitioned by shard", r"\], \[[^\]]*_shard[^\]]*\], \[", True),
            ("no sort-merge join", r"SortMergeJoin", False),
            ("no python anywhere", r"EvalPython|MapInPandas|MapInArrow", False),
        ],
    )
    audit(
        "q52_incremental_dedup",
        Q.queries()["q52_incremental_dedup"](spark, SF),
        [
            # band keys come from lsh_band_rows' checkpointed Arrow
            # stage on each side (the plan reads the stored rows); no
            # interpreted JVM minhash chain re-derives them. Index probes
            # are equi-joins — join STRATEGY is left to the planner
            # (broadcast at small scale, shuffle at corpus scale), but
            # nothing quadratic or python
            ("band keys from the checkpointed Arrow stage", r"ExistingRDD", True),
            ("no JVM minhash chain", r"array_min", False),
            ("no nested loop / cartesian", r"NestedLoop|CartesianProduct", False),
            ("no python anywhere", r"EvalPython|MapInPandas|MapInArrow", False),
        ],
    )
    # the group cardinality is CONFIGURABLE (round-5 verdict item 4:
    # 16**prefix_len groups; 2 is the sandbox default, 4-5 the 1e12-row
    # setting) — audit the two-level shape at BOTH, and pin that the
    # per-row window really partitions at the configured cardinality
    # (the group key is substring(key, 1, prefix_len) in the plan).
    for plen in (2, 4):
        os.environ["XHS_SHUFFLE_PREFIX_LEN"] = str(plen)
        for nm in ("q54_epoch_shuffle", "q55_pack_sequences"):
            audit(
                f"{nm}[prefix_len={plen}]",
                Q.queries()[nm](spark, SF),
                [
                    # two-level cumsum shape (same contract as q51): bounded
                    # group aggregate, broadcast offsets, PARTITIONED per-row
                    # window — never a global-sort window over the corpus
                    ("group totals partially aggregated", r"partial_sum|partial_count", True),
                    ("offsets broadcast to rows", r"BroadcastHashJoin", True),
                    ("per-row window partitioned by group", r"\], \[[^\]]*_grp[^\]]*\], \[", True),
                    (
                        "group key at configured cardinality",
                        rf"substring\(md5\(.*\), 1, {plen}\)",
                        True,
                    ),
                    ("no sort-merge join", r"SortMergeJoin", False),
                    ("no python anywhere", r"EvalPython|MapInPandas|MapInArrow", False),
                ],
            )
    os.environ.pop("XHS_SHUFFLE_PREFIX_LEN", None)
    audit(
        "q53_mix_resample",
        Q.queries()["q53_mix_resample"](spark, SF),
        [
            # domain counts partially aggregate map-side; the |domains|-row
            # rate dim broadcasts; the row gate itself is a narrow filter
            ("domain counts partially aggregated", r"partial_count", True),
            ("rate dim broadcast to rows", r"BroadcastHashJoin", True),
            ("no sort-merge join", r"SortMergeJoin", False),
            ("no python anywhere", r"EvalPython|MapInPandas|MapInArrow", False),
        ],
    )

    audit(
        "q58_sessionize",
        Q.queries()["q58_sessionize"](spark, SF),
        [
            # one shuffle on the session key, windows partitioned by it
            # (bounded per user) — never an unpartitioned event window
            ("shuffle on the session key", r"hashpartitioning\(user_id", True),
            ("window partitioned by key", r"\], \[[^\]]*user_id[^\]]*\], \[", True),
            ("no join", r"Join", False),
            ("no python anywhere", r"EvalPython|MapInPandas|MapInArrow", False),
        ],
    )
    audit(
        "q59_sessionize_bucketed",
        Q.queries()["q59_sessionize_bucketed"](spark, SF),
        [
            # the skew-safe form: event windows partition by (key, bucket)
            # — a hot key's events split across tasks; only the per-bucket
            # SUMMARY frame (one row per active bucket) windows by key
            ("event window partitioned by (key, bucket)", r"\], \[[^\]]*_bkt[^\]]*\], \[", True),
            ("stitch join is an equi-join", r"NestedLoop|CartesianProduct", False),
            ("no python anywhere", r"EvalPython|MapInPandas|MapInArrow", False),
        ],
    )
    audit(
        "q56_tfidf_topk",
        Q.queries()["q56_tfidf_topk"](spark, SF),
        [
            # tf and df tables aggregate map-side; the 1-row N aggregate
            # broadcasts (it prints as a BroadcastNestedLoopJoin by
            # construction — a 1-row cross, not a quadratic join, so no
            # blanket no-nested-loop invariant here); the tf x df term
            # join strategy is left to the planner
            ("partial counts before shuffles", r"partial_count", True),
            ("no python anywhere", r"EvalPython|MapInPandas|MapInArrow", False),
            ("no cartesian product", r"CartesianProduct", False),
        ],
    )

    audit(
        "q64_unigram_rarity",
        Q.queries()["q64_unigram_rarity"](spark, SF),
        [
            # same contract as q56: aggregates run map-side partials, the
            # 1-row total broadcasts (prints as a 1-row
            # BroadcastNestedLoopJoin by construction), term join strategy
            # left to the planner. r7: occurrence counting happens inside
            # the (id, term) pre-aggregate's localCheckpoint job, so the
            # visible plan's partials are the per-term/per-doc SUMs over
            # that aggregate.
            ("partial aggregation before shuffles", r"partial_(count|sum)", True),
            ("no python anywhere", r"EvalPython|MapInPandas|MapInArrow", False),
            ("no cartesian product", r"CartesianProduct", False),
        ],
    )
    audit(
        "q65_chunk_documents",
        Q.queries()["q65_chunk_documents"](spark, SF),
        [
            # pure projection: sequence+slice+posexplode in one narrow
            # stage — chunking must never shuffle or leave the JVM
            ("no shuffle anywhere", r"Exchange", False),
            ("no python anywhere", r"EvalPython|MapInPandas|MapInArrow", False),
            ("no join anywhere", r"Join", False),
        ],
    )

    # bucketed MERGE sink: point lookup must partition-prune in BOTH
    # states — clean (base only) and merge-on-read (base + delta scans,
    # every file source pruned by the same bucket predicate)
    import tempfile as _tf

    from pyspark.sql import Row as _Row

    from xhs_ocr_spark.sinks import BucketedMergeTable

    with _tf.TemporaryDirectory() as td:
        t = BucketedMergeTable(spark, os.path.join(td, "t"), keys=["k"], n_buckets=8)
        t.upsert(spark.createDataFrame([_Row(k=f"k{i}", v="0") for i in range(64)]))
        clean_plan = t.lookup(k="k5")._jdf.queryExecution().executedPlan().toString()
        t.upsert(
            spark.createDataFrame([_Row(k=f"k{i}", v="1") for i in range(0, 64, 2)])
        )
        assert t.in_mor_state()
        mor_plan = t.lookup(k="k5")._jdf.queryExecution().executedPlan().toString()
    for label, plan_s in (
        ("clean lookup partition-prunes", clean_plan),
        ("MOR lookup partition-prunes every bucketed scan", mor_plan),
    ):
        # every scan that HAS the bucket partition column (base + delta
        # trees) must prune on it; the equality-delete key files are
        # unpartitioned by design (tiny, broadcast into the anti-join)
        scans = re.findall(
            r"FileScan parquet \[([^\]]*)\].*?PartitionFilters: \[([^\]]*)\]",
            plan_s,
        )
        bucketed = [pf for cols, pf in scans if "_mt_bucket" in cols]
        check(
            "bucketed_lookup",
            label,
            bool(bucketed) and all("_mt_bucket" in pf for pf in bucketed),
        )

    from xhs_ocr_spark.extraction.pipeline import extract_spans, extract_spans_flat
    from bench import staged_corpus

    # production shape: scan an existing bytes-carrying table (staging the
    # corpus is datagen, not engine — its python render stage must not
    # count against the extraction plan's single-python-stage invariant)
    import tempfile

    stage_dir = os.path.join(tempfile.gettempdir(), "xhs_audit_corpus_v2")
    corpus = staged_corpus(spark, SF, 2, stage_dir)
    for name, df in (("flagship_flat", extract_spans_flat(corpus)), ("flagship_full", extract_spans(corpus))):
        full = name == "flagship_full"
        plan_txt = audit(
            name,
            df,
            [
                (
                    "chunk spread hashes (doc_id, chunk)",
                    r"hashpartitioning\(doc_id#\d+, chunk#\d+, \d+\), REPARTITION_BY_NUM",
                    True,
                ),
                (
                    "regroup hashes doc_id" if full else "no regroup",
                    r"hashpartitioning\(doc_id#\d+, \d+\)",
                    full,
                ),
                # unified routing: exactly ONE Arrow-batched python stage (the
                # OCR mapInArrow, text classifier included), ABOVE the spread
                ("arrow-batched python stage", r"MapInArrow", True),
                ("no sort-merge join anywhere", r"SortMergeJoin", False),
                ("no python row UDFs", r"BatchEvalPython", False),
                # HOF lambdas are CodegenFallback, interpreted per element
                ("no interpreted HOF lambda", r"lambdafunction", False),
            ],
        )
        # single-scan + single-python-stage invariants (round-2 item 5)
        check(name, "exactly one parquet scan", n_nodes(plan_txt, "Scan parquet") == 1)
        check(
            name,
            f"exactly {1 + full} Exchange(s)",
            n_nodes(plan_txt, "Exchange") == 1 + full,
        )
        check(
            name,
            "exactly one python stage",
            n_nodes(plan_txt, "MapInArrow|MapInPandas|ArrowEvalPython") == 1,
        )

    # q48 composed corpus pipeline (round-4 verdict item 1): the funnel
    # plan sits entirely ABOVE the localCheckpoint of the extracted text,
    # so it must contain NO parquet scan and NO python stage at all (the
    # one corpus scan + one mapInArrow ran exactly once, inside the
    # checkpointed flagship job whose shape flagship_flat pins); dedup
    # stages must aggregate (partial_min / partial_collect_set), never
    # window over a fingerprint; nothing quadratic.
    audit(
        "q48_corpus_pipeline",
        Q.queries()["q48_corpus_pipeline"](spark, SF),
        [
            # default (stage-checkpointed) form: every stage materialized
            # exactly once — the funnel plan reads only checkpointed RDDs
            ("no parquet scan above the checkpoints", r"(?m)^\(\d+\) Scan parquet", False),
            ("no python anywhere", r"EvalPython|MapInPandas|MapInArrow", False),
            ("no nested loop / cartesian", r"NestedLoop|CartesianProduct", False),
        ],
    )
    # q62/q63 BPE counting (r7 shapes): q62 is EXACTLY one Arrow-batched
    # python stage fed by EXACTLY one spread exchange (round-6 verdict
    # item 1 asked for exactly-one, not merely present: the r6 plan ran
    # the tokenizer twice; and without the spread the single-file scan
    # pinned the whole stage to one python worker). q63's tokenizer now
    # runs inside token_budget_select's input localCheckpoint, so its
    # FINAL plan must contain NO scan and NO python at all — the
    # structural exactly-once — while the selection keeps the
    # two-level-cumsum window contract above the checkpointed RDD.
    audit(
        "q62_bpe_tokens",
        Q.queries()["q62_bpe_tokens"](spark, SF),
        [
            ("arrow-batched python stage", r"MapInPandas", True),
            ("exactly one python stage", r"(?s)\(\d+\) MapInPandas.*\(\d+\) MapInPandas", False),
            ("one spread exchange below the tokenizer", r"Exchange", True),
            ("exactly one exchange", r"(?s)\(\d+\) Exchange.*\(\d+\) Exchange", False),
            ("no row-wise python", r"BatchEvalPython", False),
        ],
    )
    audit(
        "q63_bpe_budget",
        Q.queries()["q63_bpe_budget"](spark, SF),
        [
            ("no parquet scan above the selection checkpoint", r"(?m)^\(\d+\) Scan parquet", False),
            ("no python above the selection checkpoint", r"EvalPython|MapInPandas|MapInArrow", False),
            ("per-row window partitioned by shard", r"\], \[[^\]]*_shard[^\]]*\], \[", True),
            ("no nested loop / cartesian", r"NestedLoop|CartesianProduct", False),
        ],
    )
    # q61 assembly tail composed onto the funnel (round-5 verdict item
    # 4): same checkpoint discipline (no scan, no python above the
    # checkpoints), and the tail's windows are the bounded two-level
    # shapes. Since r7 the selection result ``sel`` is itself
    # localCheckpoint'ed (round-6 verdict item 1: it fed both
    # pack_sequences and the final join and re-derived under each), so
    # the selection windows sit BEHIND a checkpoint and only the packing
    # window is visible in the final plan; the selection-window contract
    # is pinned on q51/q63's plans, whose windows run above their input
    # checkpoint.
    audit(
        "q61_corpus_assembly",
        Q.queries()["q61_corpus_assembly"](spark, SF),
        [
            ("no parquet scan above the checkpoints", r"(?m)^\(\d+\) Scan parquet", False),
            ("no python anywhere", r"EvalPython|MapInPandas|MapInArrow", False),
            ("packing window partitioned by group", r"\], \[[^\]]*_grp[^\]]*\], \[", True),
            ("no nested loop / cartesian", r"NestedLoop|CartesianProduct", False),
        ],
    )
    # the fully-LAZY composed funnel (stage_checkpoints=False) pins the
    # logical composition: both dedup stages keep one row per fp with
    # pick_one's aggregate (partial_min) and no join back, no
    # window ever partitions by a fingerprint, nothing quadratic, and
    # the batch funnel's statically empty probe indexes are pruned — no
    # anti-join survives (a non-static empty index leaves 68). (The
    # LSH partial_collect_set invariant is pinned on q25's plan; the pair
    # expansion runs inside the component labels' eager checkpoint jobs.)
    from xhs_ocr_spark.plans.corpus_pipeline import (
        corpus_funnel as _cf,
        corpus_stages as _cs,
        doc_text_from_spans as _dts,
    )

    audit(
        "q48_corpus_pipeline_lazy",
        _cf(_cs(_dts(Q.queries()["q30_extract_flagship"](spark, SF)), stage_checkpoints=False)),
        [
            ("no parquet scan above the base checkpoint", r"(?m)^\(\d+\) Scan parquet", False),
            ("no python anywhere", r"EvalPython|MapInPandas|MapInArrow", False),
            ("paragraph dedup partial_min before shuffle", r"partial_min", True),
            ("no window over fp", r"RunningWindowFunction|\(\d+\) Window", False),
            ("no nested loop / cartesian", r"NestedLoop|CartesianProduct", False),
            ("empty probe indexes pruned", r"LeftAnti", False),
        ],
    )

    print(f"\n{len(failures)} plan-invariant failures; plans in {OUT}/")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
