"""Mask library source — the reference's mask/<app>/<hw>/<tag>/*.png
directory tree (core/run.py:360-373: os.listdir + .sort per tag) as
dimension rows (raw_image.mask_library):

    (app string, hw string, tag string, mask_order int, mask_bytes binary)

Scale shape: the library is tiny (apps x tags x N_MASKS rows, ~KB masks),
so it is collected once on the driver and BROADCAST to executors — the
classic small-dim pattern; the OCR stage looks masks up per (app, hw,
tag) inside the Arrow batch loop, never joins.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..extraction.raw_image import mask_library, masks_by_key

_BC_CACHE: dict = {}


def broadcast_mask_library(spark: SparkSession):
    """(app, hw, tag) -> [mask_bytes in mask_order] as a broadcast var,
    covering all hardware subtrees so the OCR stage can serve a mixed-hw
    corpus from one lookup.

    Memoized per application: the flagship pipeline is re-planned
    per wave by CheckpointedExtraction, and an unmemoized broadcast per
    call would accumulate driver/executor broadcast blocks over a long
    many-wave run (ADVICE r2). The library is immutable for a run, so one
    broadcast per session is the correct lifetime."""
    app_id = spark.sparkContext.applicationId
    bc = _BC_CACHE.get(app_id)
    if bc is None:
        # drop entries from dead sessions (one live app per process)
        _BC_CACHE.clear()
        bc = spark.sparkContext.broadcast(masks_by_key(mask_library()))
        _BC_CACHE[app_id] = bc
    return bc
