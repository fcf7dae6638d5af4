#!/usr/bin/env python
"""spark-submit entrypoint: resumable interleaved-document extraction.

    spark-submit --py-files dist/xhs_ocr_spark.zip \
        scripts/submit_extract.py <input_docs_parquet> <output_dir> \
        [n_buckets] [waves] [sink_table_dir]

With a fifth argument, extracted spans land in a BucketedMergeTable at
that path (insert_ignore on (doc_id, pos), pos = the span's index in its
document: idempotent re-merge, copy-on-write per wave) instead of the
plain spans_out parquet dir. It prints the span rows written, the
buckets completed and the media dead letters.

On a cluster the SparkSession comes from spark-submit's conf (master,
executors); locally it falls back to the session factory. The job is
resumable: re-submitting after a failure skips completed buckets via the
lineage table (see extraction/checkpointed.py).
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession


def main() -> None:
    input_path, output_dir = sys.argv[1], sys.argv[2]
    n_buckets = int(sys.argv[3]) if len(sys.argv) > 3 else 256
    waves = int(sys.argv[4]) if len(sys.argv) > 4 else 8

    spark = SparkSession.builder.appName("xhs-ocr-spark-extract").getOrCreate()
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    from xhs_ocr_spark.extraction.checkpointed import (
        CheckpointedExtraction,
        make_span_sink,
    )

    docs = spark.read.parquet(input_path)
    sink = (
        make_span_sink(spark, sys.argv[5], n_buckets=n_buckets)
        if len(sys.argv) > 5
        else None
    )
    runner = CheckpointedExtraction(
        spark, output_dir, n_buckets=n_buckets, waves=waves, span_sink=sink
    )
    out = runner.run(docs)
    buckets_ok = runner.lineage().where("status = 'ok'").count()
    dead = runner.dead_letter()
    dead_letters = 0 if dead is None else dead.count()
    print(f"rows_out={out.count()} buckets_ok={buckets_ok} dead_letters={dead_letters}")
    spark.stop()


if __name__ == "__main__":
    main()
