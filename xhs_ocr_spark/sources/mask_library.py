"""Mask library source — the reference's mask/<app>/<hw>/<tag>/*.png
directory tree (core/run.py:360-373: os.listdir + .sort per tag) as a
proper dimension table:

    (app string, hw string, tag string, mask_order int, mask_bytes binary)

Scale shape: the library is tiny (apps x tags x N_MASKS rows, ~KB masks),
so it is collected once on the driver and BROADCAST to executors — the
classic small-dim pattern; the OCR stage looks masks up per (app, hw,
tag) inside the Arrow batch loop, never joins.
"""

from __future__ import annotations

import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from ..extraction.raw_image import HW_VALUES, mask_library, masks_by_key

MASK_SCHEMA = T.StructType(
    [
        T.StructField("app", T.StringType()),
        T.StructField("hw", T.StringType()),
        T.StructField("tag", T.StringType()),
        T.StructField("mask_order", T.IntegerType()),
        T.StructField("mask_bytes", T.BinaryType()),
    ]
)


def mask_library_df(spark: SparkSession, hws: tuple[str, ...] = HW_VALUES) -> DataFrame:
    """The mask dim table as a DataFrame (writable to parquet like any
    other table; synthesized here because the sandbox has no mask dir),
    covering every hardware subtree (images/xhs/{aibox,futurecloud})."""
    rows = [
        (r["app"], r["hw"], r["tag"], r["mask_order"], r["mask_bytes"])
        for r in mask_library(hws)
    ]
    return spark.createDataFrame(rows, MASK_SCHEMA)


_BC_CACHE: dict = {}


def broadcast_mask_library(spark: SparkSession, hws: tuple[str, ...] = HW_VALUES):
    """(app, hw, tag) -> [mask_bytes in mask_order] as a broadcast var,
    covering all hardware subtrees so the OCR stage can serve a mixed-hw
    corpus from one lookup.

    Memoized per (application, hws): the flagship pipeline is re-planned
    per wave by CheckpointedExtraction, and an unmemoized broadcast per
    call would accumulate driver/executor broadcast blocks over a long
    many-wave run (ADVICE r2). The library is immutable for a run, so one
    broadcast per session is the correct lifetime."""
    app_id = spark.sparkContext.applicationId
    key = (app_id, tuple(hws))
    bc = _BC_CACHE.get(key)
    if bc is None:
        # drop entries from dead sessions (one live app per process)
        for stale in [k for k in _BC_CACHE if k[0] != app_id]:
            del _BC_CACHE[stale]
        bc = spark.sparkContext.broadcast(masks_by_key(mask_library(hws)))
        _BC_CACHE[key] = bc
    return bc
