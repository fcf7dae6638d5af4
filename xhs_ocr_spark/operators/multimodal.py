"""Multimodal columns: header metadata decoded from the engine's raw-RGBA
screenshot payloads (extraction/raw_image.py), the q39 path.

The decode is numpy array math over the payload column's Arrow buffers
(raw_image.read_headers) inside one mapInArrow stage: no per-row Python
and no external image library.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.types as T
from pyspark.sql import DataFrame

RAW_META_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("tag", T.StringType()),
        T.StructField("app", T.StringType()),
        T.StructField("hw", T.StringType()),
        T.StructField("n_blocks", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def raw_media_metadata(media: DataFrame) -> DataFrame:
    """(media_ref, media_bytes) -> header metadata DECODED FROM PIXELS
    over Arrow batches. Undecodable payloads drop (dead-letter by
    omission)."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from ..extraction import raw_image as RI

        for batch in batches:
            payloads = batch.column("media_bytes")
            idx, h = RI.read_headers(payloads)
            # header byte 6 is the hardware that captured the screenshot,
            # the reference's images/<app>/<hw>/ dimension
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("media_ref").take(idx),
                    pa.array(RI.TAGS).take(h[:, 3]),
                    pa.array(RI.APPS).take((h[:, 4] == 1).astype(int)),
                    pa.array(RI.HW_VALUES).take(h[:, 6] % len(RI.HW_VALUES)),
                    pa.array(h[:, 5], pa.int32()),
                    pc.binary_length(payloads).take(idx).cast(pa.int64()),
                ],
                names=RAW_META_SCHEMA.fieldNames(),
            )

    return media.mapInArrow(run, schema=RAW_META_SCHEMA)
