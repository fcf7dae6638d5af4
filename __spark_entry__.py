"""Driver contract for the spark-graft builder (PySpark target).

entry(): flagship interleaved-document extraction over sf0.001.
queries()/oracle_sql(): per-operator Spark callables + DuckDB oracle SQL
(see xhs_ocr_spark/queries.py for the registry; SURVEY.md §2 for the map).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from xhs_ocr_spark import queries as Q  # noqa: E402
from xhs_ocr_spark.session import ship_package  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: derive an interleaved text+media corpus from the sf0.001
    documents table, run the full extraction pipeline (vectorized text
    route + batched mapInArrow OCR route + offset re-merge), return the
    flat span table."""
    ship_package(spark)  # executors need the package regardless of cwd
    return Q.q_extract_flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    base = Q.queries()

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            ship_package(spark)
            return fn(spark, sf_dir)

        return run

    return {name: wrap(fn) for name, fn in base.items()}


def oracle_sql() -> dict[str, str]:
    return Q.oracle_sql()
