"""The documents table as a date+bucket partitioned store.

Reference behavior re-expressed (S1/S2): the reference walks a
date-partitioned directory tree and string-matches the last-N-days dirs
(core/run.py:146-197, 132-138). Here the same layout is a partitioned
table — `collect_date=YYYY-MM-DD/bucket=NN/` — and the date predicate is
a plain filter that Catalyst turns into partition pruning (the scan never
lists, let alone reads, out-of-window partitions). On Iceberg the same
write uses `days(collect_date)` + `bucket(N, doc_id)` transforms; the
call sites don't change.

The bucket column doubles as the resume/checkpoint key: doc_bucket is
the one derivation, shared with extraction/checkpointed.py's staging
and waves.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession


def doc_bucket(n_buckets: int) -> Column:
    """The document bucket, pmod(xxhash64(doc_id), n_buckets) as int: the
    partition column here and the staging and wave key of
    CheckpointedExtraction. The span sink's bucket function over a
    string doc_id gives the same value, which is what lets a wave's
    merge touch only its own buckets."""
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")


def with_partition_columns(docs: DataFrame, n_buckets: int = 16) -> DataFrame:
    """Derive (collect_date, bucket) deterministically from doc_id — the
    corpus generator has no wall clock, so the date is synthesized from
    the id hash onto a 30-day window (stands in for real ingest dates)."""
    day = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(30)).cast("int")
    return docs.withColumn(
        "collect_date",
        F.date_add(F.lit("2024-01-01").cast("date"), day),
    ).withColumn("bucket", doc_bucket(n_buckets))


def write_docs_table(docs: DataFrame, path: str, n_buckets: int = 16) -> None:
    (
        with_partition_columns(docs, n_buckets)
        .write.mode("overwrite")
        .partitionBy("collect_date", "bucket")
        .parquet(path)
    )


def read_docs(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_recent(spark: SparkSession, path: str, since: str) -> DataFrame:
    """S2: last-N-days incremental read. The filter prunes partitions at
    plan time — verify with .explain() / the test's partition count."""
    return read_docs(spark, path).where(F.col("collect_date") >= F.lit(since).cast("date"))
