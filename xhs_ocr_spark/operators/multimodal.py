"""Multimodal columns: header metadata decoded from the engine's raw-RGBA
screenshot payloads (extraction/raw_image.py), the q39 path.

The decode is real numpy array math over the payload bytes inside one
Arrow-batched Python stage; no external image library is needed.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
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

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..extraction import raw_image as RI

        for pdf in batches:
            rows = []
            for ref, content in zip(pdf["media_ref"], pdf["media_bytes"]):
                try:  # decode ONCE per payload
                    img = RI.decode_image(bytes(content))
                    tag, app, n_blocks = RI.read_header(img)
                except Exception:
                    continue
                # hardware that captured the screenshot (header byte 6) —
                # the reference's images/<app>/<hw>/ dimension
                rows.append((ref, tag, app, RI.read_hw(img), n_blocks, len(content)))
            yield pd.DataFrame(
                rows, columns=["media_ref", "tag", "app", "hw", "n_blocks", "n_bytes"]
            )

    return media.mapInPandas(run, schema=RAW_META_SCHEMA)
