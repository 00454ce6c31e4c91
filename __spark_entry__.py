"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

All real implementations live in ``etl_ml_pipeline_spark.queries``;
this module only adapts them to the driver contract.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 analog) on /root/testdata/sf0.001."""
    from etl_ml_pipeline_spark.queries.relational import q1_pricing_summary

    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Emission order is derived from the CORRECTNESS_r*.json records at the
    repo root: names whose newest record is oldest come first, so the
    recorded prefix always holds the names that fall due next.
    """
    from etl_ml_pipeline_spark.queries import all_queries

    return all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL for each hash-comparable query."""
    from etl_ml_pipeline_spark.queries import all_oracles

    return all_oracles()
