"""Spark integration for the layout library.

Layout algorithms are sequential per document but embarrassingly parallel
across documents: one mapInPandas stage, blocks in/blocks out as typed
arrays of structs. No shuffle; Arrow both ways.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from . import get_parser

BLOCK_OUT_SCHEMA = T.StructType(
    [
        T.StructField("box", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("score", T.DoubleType()),
        T.StructField("text", T.StringType()),
        T.StructField("end", T.StringType()),
    ]
)


def layout_schema(doc_id_type: T.DataType = T.StringType()) -> T.StructType:
    return T.StructType(
        [
            T.StructField("doc_id", doc_id_type),
            T.StructField("blocks", T.ArrayType(BLOCK_OUT_SCHEMA)),
        ]
    )


def _to_py(block_row) -> dict:
    return {
        "box": [list(p) for p in block_row["box"]],
        "score": float(block_row["score"]),
        "text": block_row["text"],
    }


def apply_layout(df: DataFrame, mode: str, blocks_col: str = "blocks") -> DataFrame:
    """(doc_id, blocks array<struct<box,score,text>>) ->
    (doc_id, blocks array<struct<box,score,text,end>>), laid out in
    reading order per ``mode`` (see layout.PARSERS)."""
    parser = get_parser(mode)
    out_schema = layout_schema(df.schema["doc_id"].dataType)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for blocks in pdf[blocks_col]:
                # empty-text blocks would crash the separator rules
                # (text[-1]); real OCR engines don't emit them, and the
                # reference would crash identically — drop them here so a
                # single bad block can't kill the whole job
                pyblocks = [_to_py(b) for b in blocks if b["text"]]
                if not pyblocks:
                    out.append([])
                    continue
                done = parser(pyblocks)
                out.append(
                    [
                        {
                            "box": b["box"],
                            "score": b["score"],
                            "text": b["text"],
                            "end": b.get("end", "\n"),
                        }
                        for b in done
                    ]
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blocks": out})

    return df.select("doc_id", blocks_col).mapInPandas(run, schema=out_schema)


def render_text(blocks: list[dict]) -> str:
    """Blocks+ends -> final document text (how the reference consumes
    tbpu output)."""
    return "".join(b["text"] + b["end"] for b in blocks)
