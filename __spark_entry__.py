"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash).

All real logic lives in ``currency_etl_spark``; this module only adapts the
central catalog (currency_etl_spark/catalog.py) to the driver's interface.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from currency_etl_spark.catalog import load_catalog

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    TPC-H Q1 pricing summary — scan + pushdown + multi-aggregate groupBy,
    the engine's bread-and-butter plan shape.
    """
    from currency_etl_spark.queries.corpus import q1_pricing_summary

    return q1_pricing_summary(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ north-star ops)."""
    return {name: spec.spark_fn for name, spec in load_catalog().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL per query; omitted → rows-only check."""
    return {name: spec.oracle for name, spec in load_catalog().items() if spec.oracle is not None}
