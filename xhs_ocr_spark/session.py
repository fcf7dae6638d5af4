"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point and safe on local[N]:
- AQE on (runtime coalesce + skew-join splitting),
- Arrow enabled for all pandas UDF exchange,
- shuffle partitions sized to cores locally (cluster: set via spark-submit),
- broadcast threshold raised so dimension tables (mask/tag registries)
  always broadcast.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def spread(df: DataFrame, *cols) -> DataFrame:
    """The one spread width: repartition to 2x the default parallelism,
    hashing on ``cols`` (round-robin without them). Raw scans of the
    single-file testdata parquet are one partition; every operator that
    derives heavily per row spreads through here first. The size-aware
    chunk spread of the extraction pipeline (``_spread_flat``) is the one
    exchange sized otherwise."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism * 2, *cols)


def get_spark(
    app_name: str = "xhs-ocr-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession.

    ``cores`` pins ``local[cores]`` — used by the scaling benchmark to run
    the same job at N and 4N parallelism. On a real cluster this factory is
    bypassed by spark-submit's master/deploy settings.
    """
    n = cores or default_parallelism()
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{n}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(2 * n, 32)))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)
    return spark


def package_zip(dest_dir: str | None = None) -> str:
    """Zip the xhs_ocr_spark package for spark-submit --py-files.

    Returns the zip path. Used both by the session factory (addPyFile, so
    executor python workers can unpickle our UDF closures regardless of the
    driver's cwd) and by scripts/build_pyfiles_zip.sh.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out_dir = dest_dir or tempfile.mkdtemp(prefix="xhs_ocr_spark_pyfiles_")
    base = os.path.join(out_dir, "xhs_ocr_spark")
    # archive rooted one level up so the zip contains xhs_ocr_spark/...
    return shutil.make_archive(base, "zip", os.path.dirname(pkg_dir), "xhs_ocr_spark")


def ship_package(spark: SparkSession) -> None:
    """Make the package importable on executors (idempotent per session)."""
    sc = spark.sparkContext
    if sc is None:
        return
    if getattr(sc, "_xhs_ocr_spark_shipped", False):
        return
    try:
        sc.addPyFile(package_zip())
        sc._xhs_ocr_spark_shipped = True
    except Exception:
        # e.g. connect-mode session; spark-submit --py-files covers it then
        pass
