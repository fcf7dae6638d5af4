"""Gap-based event sessionization — the classic clickstream operator:
events of a user belong to one session until a silence longer than the
gap; the next event starts a new session.

Batch form: lag + cumulative-sum-of-breaks inside a window PARTITIONED
BY the session key — bounded by one user's events, shuffled once on the
key, exact, and oracle-checkable bit-for-bit (gap arithmetic in integer
epoch seconds). The streaming analog is `F.session_window` with a
watermark (see streaming/incremental.py for the engine's streaming
surfaces); the batch form is what backfills and reprocessing runs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.window import Window

from ..session import spread

SESSION_GAP_SEC = 1800  # a silence longer than this ends a session


def sessionize(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    order_col: str,
) -> DataFrame:
    """Assign a 1-based ``session_idx`` per key under (ts, order) order;
    a new session starts when the gap to the previous event exceeds
    SESSION_GAP_SEC seconds. ``order_col`` must make the per-key order
    total (a unique event id). Returns (order_col, key_col, session_idx,
    is_start).
    """
    w = Window.partitionBy(key_col).orderBy(F.asc(ts_col), F.asc(order_col))
    prev = F.lag(F.col(ts_col)).over(w)
    brk = F.when(
        prev.isNull()
        | (
            F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(prev)
            > F.lit(SESSION_GAP_SEC)
        ),
        F.lit(1),
    ).otherwise(F.lit(0))
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = df.select(
        F.col(order_col), F.col(key_col), F.col(ts_col), brk.alias("_brk")
    )
    return out.select(
        order_col,
        key_col,
        F.sum("_brk").over(wc).cast("long").alias("session_idx"),
        F.col("_brk").cast("long").alias("is_start"),
    )


def sessionize_bucketed(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    order_col: str,
    bucket_sec: int = 86400,
) -> DataFrame:
    """Skew-safe sessionization, semantically IDENTICAL to sessionize():
    the plain form's window partitions by key alone, so a hot key (a bot
    account with 10^8 events) funnels into one task. Here events are
    sessionized within (key, time-bucket) partitions — bounded by a
    key's events per ``bucket_sec`` — and sessions are stitched across
    bucket boundaries on a per-(key, bucket) SUMMARY frame (one row per
    active bucket; its per-key window is bounded by active buckets, ~10^3
    for years of days).

    Stitch: bucket b's first session merges into the previous ACTIVE
    bucket's last session iff the boundary gap <= SESSION_GAP_SEC
    (carry=1).
    Global index = offset + local_idx - carry, where offset is the
    per-key running sum of (local_sessions - carry) over previous
    buckets — chained merges (a session spanning many buckets) collapse
    correctly because each bucket's first session joins the running
    previous one. Works for any bucket_sec, including < SESSION_GAP_SEC
    (empty buckets inside a long session are skipped by the active-bucket
    lag).
    """
    u = F.unix_timestamp(F.col(ts_col))
    e = df.select(
        F.col(order_col),
        F.col(key_col),
        F.col(ts_col),
        F.expr(
            f"CAST(unix_timestamp({ts_col}) DIV {int(bucket_sec)} AS BIGINT)"
        ).alias("_bkt"),
    )
    w = Window.partitionBy(key_col, "_bkt").orderBy(
        F.asc(ts_col), F.asc(order_col)
    )
    prev = F.lag(F.col(ts_col)).over(w)
    brk = F.when(
        prev.isNull() | (u - F.unix_timestamp(prev) > F.lit(SESSION_GAP_SEC)),
        F.lit(1),
    ).otherwise(F.lit(0))
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rows = e.withColumn("_first", prev.isNull().cast("int")).withColumn(
        "_brk", brk
    )
    rows = rows.withColumn("_local", F.sum("_brk").over(wc))
    # r7: ``rows`` (scan + the per-(key, bucket) window) has two
    # consumers — the summary aggregate and the final join's probe side
    # — and re-derived whole under each. A repartition on the window's
    # own partition keys gives both consumers one shared exchange
    # (ReusedExchange), so the event scan and the window run once.
    rows = spread(rows, key_col, "_bkt")

    summ = rows.groupBy(key_col, "_bkt").agg(
        F.min(ts_col).alias("_first_ts"),
        F.max(ts_col).alias("_last_ts"),
        F.max("_local").alias("_n_sessions"),
    )
    w2 = Window.partitionBy(key_col).orderBy(F.asc("_bkt"))
    prev_last = F.lag(F.col("_last_ts")).over(w2)
    carry = F.when(
        prev_last.isNotNull()
        & (
            F.unix_timestamp(F.col("_first_ts")) - F.unix_timestamp(prev_last)
            <= F.lit(SESSION_GAP_SEC)
        ),
        F.lit(1),
    ).otherwise(F.lit(0))
    summ = summ.withColumn("_carry", carry)
    w2c = w2.rowsBetween(Window.unboundedPreceding, -1)
    summ = summ.withColumn(
        "_offset",
        F.coalesce(
            F.sum(F.col("_n_sessions") - F.col("_carry")).over(w2c), F.lit(0)
        ),
    ).select(key_col, "_bkt", "_carry", "_offset")

    out = rows.join(summ, [key_col, "_bkt"])
    return out.select(
        order_col,
        key_col,
        (F.col("_offset") + F.col("_local") - F.col("_carry"))
        .cast("long")
        .alias("session_idx"),
        F.when((F.col("_first") == 1) & (F.col("_carry") == 1), F.lit(0))
        .otherwise(F.col("_brk"))
        .cast("long")
        .alias("is_start"),
    )
