#!/usr/bin/env python
"""MERGE-sink scale evidence: full-rewrite vs bucketed copy-on-write.

Seeds both sink variants with the same N_BASE-row table, then applies
(a) a POINT batch (a handful of keys -> a handful of touched buckets)
and (b) a SCATTERED batch (1000 keys -> hash-uniform across buckets),
reporting wall time and new bytes written per merge.

The point regime is what bucketed copy-on-write exists for: cost is
O(touched buckets), not O(table) — at 10^12 rows a correction pass
touching a few keys rewrites a few buckets. The scattered regime is
where copy-on-write degrades to a full rewrite (hash bucketing spreads
any large key set across all buckets); the sink now routes it through
MERGE-ON-READ — O(batch) delta + equality-delete files, resolved at
read time — so the scattered report also times the post-merge read()
(the read amplification MOR trades for) and the explicit compact()
that folds the deltas back into the base. Usage:

    python scripts/merge_bench.py [n_base]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from xhs_ocr_spark.session import get_spark  # noqa: E402
from xhs_ocr_spark.sinks import BucketedMergeTable, ParquetMergeTable  # noqa: E402


def _dir_bytes(path: str) -> int:
    """Bytes actually stored under path, counting each inode once — a
    hard-linked carry-forward file adds nothing, so (after - before)
    across a merge is the merge's true write amplification."""
    seen: dict[int, int] = {}
    for root, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            seen[st.st_ino] = st.st_size
    return sum(seen.values())


def main() -> None:
    import tempfile

    n_base = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    spark = get_spark("merge-bench", cores=16)
    base = spark.range(n_base).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("v"),
    )

    def batch(n):
        return spark.range(n).select(
            F.concat(F.lit("k"), F.col("id")).alias("k"),
            F.lit("updated").alias("v"),
        )

    for regime, n_upd in (("point", 4), ("scattered", 1000)):
        with tempfile.TemporaryDirectory() as td:
            results = {}
            for name, table in (
                (
                    "flat_full_rewrite",
                    ParquetMergeTable(spark, os.path.join(td, "flat")),
                ),
                (
                    "bucketed_cow",
                    BucketedMergeTable(
                        spark, os.path.join(td, "buck"), keys=["k"], n_buckets=256
                    ),
                ),
            ):
                table.upsert(base, ["k"])
                seeded_bytes = _dir_bytes(table.path)
                t0 = time.time()
                table.upsert(batch(n_upd), ["k"])
                wall = time.time() - t0
                new_bytes = _dir_bytes(table.path) - seeded_bytes
                t0 = time.time()
                rows = table.read().count()
                read_sec = time.time() - t0
                results[name] = {
                    "merge_sec": round(wall, 2),
                    "new_mb_written": round(new_bytes / 1e6, 1),
                    "read_sec": round(read_sec, 2),
                    "rows": rows,
                }
                if isinstance(table, BucketedMergeTable) and table.in_mor_state():
                    pre = _dir_bytes(table.path)
                    t0 = time.time()
                    table.compact()
                    results[name]["compact_sec"] = round(time.time() - t0, 2)
                    results[name]["compact_mb_written"] = round(
                        (_dir_bytes(table.path) - pre) / 1e6, 1
                    )
                print(regime, name, results[name])
            f, b = results["flat_full_rewrite"], results["bucketed_cow"]
            print(
                regime,
                {
                    "speedup": round(f["merge_sec"] / b["merge_sec"], 2),
                    "bytes_ratio": round(
                        f["new_mb_written"] / max(0.1, b["new_mb_written"]), 1
                    ),
                },
            )

    # --- bounded-read-amplification series (round-4 verdict item 3) ---
    # ~50 scattered batches against the DEFAULT table: auto-compaction
    # must keep read() wall time a sawtooth (bounded by the delta-count /
    # delete-bytes policy), not monotone growth. Reported: per-batch
    # outstanding delta count and read seconds, plus the max/median.
    import statistics
    import tempfile

    n_series = int(os.environ.get("MERGE_BENCH_SERIES", "50"))
    with tempfile.TemporaryDirectory() as td:
        t = BucketedMergeTable(spark, os.path.join(td, "series"), keys=["k"], n_buckets=256)
        t.upsert(base, ["k"])
        reads, deltas = [], []
        for i in range(n_series):
            t.upsert(
                spark.range(1000).select(
                    F.concat(F.lit("k"), (F.col("id") * 997 + i)).alias("k"),
                    F.lit(f"series{i}").alias("v"),
                )
            )
            deltas.append(len(t._delta_seqs(t._latest_id())))
            t0 = time.time()
            t.read().count()
            reads.append(round(time.time() - t0, 2))
        print(
            "scattered_series",
            {
                "batches": n_series,
                "auto_compact_deltas": t.AUTO_COMPACT_DELTAS,
                "max_outstanding_deltas": max(deltas),
                "read_sec_max": max(reads),
                "read_sec_median": round(statistics.median(reads), 2),
                "read_sec_first5": reads[:5],
                "read_sec_last5": reads[-5:],
                "bounded": max(deltas) < t.AUTO_COMPACT_DELTAS,
            },
        )
    spark.stop()


if __name__ == "__main__":
    main()
