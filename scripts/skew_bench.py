#!/usr/bin/env python
"""Skew evidence: media-heavy documents vs the chunk spread, with REAL
binary payloads flowing through the OCR stage.

Builds a corpus where a handful of documents carry thousands of media
spans (the reference's multi-screenshot accounts, amplified), every span
carrying a raw RGBA payload padded to a realistic screenshot size
(PAYLOAD_NOISE_ROWS of deterministic noise), materialized to parquet once
as (doc_id, spans) documents (payload synthesis excluded from timing).
Then times the bytes-consuming OCR stage over the pipeline's chunk rows
(at most CHUNK_SPANS spans each) (a) naive: partitioned by doc_id — a
heavy doc's chunks pin a single task, (b) production path:
repartition(doc_id, chunk) — chunks spread.

Appends results to BENCH/BASELINE.md.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time
from collections.abc import Iterator

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: E402
import pyspark.sql.functions as F  # noqa: E402

from xhs_ocr_spark.extraction.pipeline import (  # noqa: E402
    _CHUNK_OUT,
    _chunk_rows,
    _make_ocr_routed,
)
from xhs_ocr_spark.session import get_spark  # noqa: E402
from xhs_ocr_spark.sources.mask_library import broadcast_mask_library  # noqa: E402

N_DOCS = 900
HEAVY_EVERY = 101     # ~9 heavy docs
HEAVY_SPANS = 2000
LIGHT_SPANS = 3
PAYLOAD_NOISE_ROWS = 180  # ~25 KB per image (32 px * 4 ch * (180+content) rows)

FLAT_SCHEMA = (
    "doc_id string, kind string, text string, media_ref string, offset int, "
    "media_bytes binary"
)


def _render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from xhs_ocr_spark.extraction.raw_image import render_media_image

    for pdf in batches:
        out = pdf.copy()
        out["media_bytes"] = [
            render_media_image(r, noise_rows=PAYLOAD_NOISE_ROWS)
            for r in pdf["media_ref"]
        ]
        yield out


def main() -> None:
    spark = get_spark("skew-bench", cores=16)
    parts = 16  # = cores: each core owns one partition, so the max partition IS the critical path

    stage_dir = os.path.join(tempfile.gettempdir(), "xhs_skew_corpus_v3")
    if not os.path.exists(os.path.join(stage_dir, "_SUCCESS")):
        docs = spark.range(N_DOCS).select(
            F.concat(F.lit("doc-"), F.col("id").cast("string")).alias("doc_id"),
            F.when(F.col("id") % HEAVY_EVERY == 0, F.lit(HEAVY_SPANS))
            .otherwise(F.lit(LIGHT_SPANS))
            .alias("n"),
        )
        flat = docs.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("offset"),
        ).select(
            "doc_id",
            F.lit("media").alias("kind"),
            F.lit("").alias("text"),
            F.concat(
                F.lit("mem://"), F.col("doc_id"), F.lit("/"), F.col("offset").cast("string")
            ).alias("media_ref"),
            F.col("offset").cast("int").alias("offset"),
            F.lit(None).cast("binary").alias("media_bytes"),
        )
        span = F.struct("kind", "text", "media_ref", "offset", "media_bytes")
        flat.repartition(64).mapInPandas(_render, schema=FLAT_SCHEMA).groupBy("doc_id").agg(
            F.collect_list(span).alias("spans")
        ).write.mode("overwrite").parquet(stage_dir)
    staged = spark.read.parquet(stage_dir)
    n_spans, payload = staged.select(F.inline("spans")).agg(
        F.count(F.lit(1)), F.sum(F.length("media_bytes"))
    ).first()
    payload_mb = payload / 2**20
    chunks = _chunk_rows(staged)

    masks_bc = broadcast_mask_library(spark)

    def timed(df):
        df.count()  # warm
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            df.count()
            best = min(best, time.time() - t0)
        return best

    ocr = _make_ocr_routed(masks_bc)
    naive = chunks.repartition(parts, "doc_id").mapInArrow(ocr, schema=_CHUNK_OUT)
    t_naive = timed(naive.where(F.size("ok") > 0))
    spread = chunks.repartition(parts, "doc_id", "chunk").mapInArrow(ocr, schema=_CHUNK_OUT)
    t_spread = timed(spread.where(F.size("ok") > 0))

    # partition balance evidence, in spans per partition
    def histo(df):
        rows = df.groupBy(F.spark_partition_id().alias("p")).agg(
            F.sum(F.size("spans")).alias("n")
        ).collect()
        counts = sorted((r["n"] for r in rows), reverse=True)
        return counts[0], counts[len(counts) // 2]

    max_naive, med_naive = histo(chunks.repartition(parts, "doc_id"))
    max_spread, med_spread = histo(chunks.repartition(parts, "doc_id", "chunk"))

    out = (
        f"\n## Skew evidence (scripts/skew_bench.py, {n_spans} media spans with "
        f"{payload_mb:.0f} MB of raw RGBA payloads (~{payload_mb * 2**20 / n_spans / 1024:.0f} KB/image), "
        f"{N_DOCS} docs, {N_DOCS // HEAVY_EVERY + 1} heavy @ {HEAVY_SPANS} spans, local[16])\n\n"
        f"| strategy | max/median partition spans | OCR stage best-of-3 |\n|---|---|---|\n"
        f"| chunk rows by doc_id (naive) | {max_naive}/{med_naive} | {t_naive:.2f}s |\n"
        f"| repartition (doc_id, chunk) — production path | {max_spread}/{med_spread} | {t_spread:.2f}s |\n\n"
        f"Speedup {t_naive / t_spread:.2f}x with the bytes-consuming engine (mask "
        f"composite + pixel decode per span); the chunk spread keeps the heavy "
        f"documents from pinning single executors (north_star skew requirement).\n"
    )
    print(out)
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH", "BASELINE.md"), "a") as f:
        f.write(out)
    spark.stop()


if __name__ == "__main__":
    main()
