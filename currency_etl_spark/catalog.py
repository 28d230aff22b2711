"""Central query catalog: every graded operator is a named entry.

Each entry pairs a Spark builder ``(spark, sf_dir) -> DataFrame`` with an
equivalent ANSI-SQL oracle string DuckDB can run on the same parquet
tables. tests/test_oracle.py compares the two (row count, schema and
values); ``__spark_entry__`` exposes both halves by entry name.

Determinism rules every entry follows (SURVEY.md §7.3):
  * money/quantity SUMs go through DECIMAL(18,4)/(28,10) so Spark's
    partition-order summation and DuckDB's sequential summation are both
    exact → bit-identical doubles after the final cast;
  * AVGs are expressed as exact-decimal sum / count in double;
  * every computed column is aliased identically in Spark and SQL;
  * every result has a total deterministic ORDER BY (ties broken by keys);
  * no current_timestamp()/now() inside graded queries — "now" anchors
    to max(ts) in the data.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # None → non-SQL-expressible; driver does rows-only check
    tags: tuple = field(default_factory=tuple)
    doc: str = ""


CATALOG: dict[str, QuerySpec] = {}


def register(name: str, oracle: Optional[str], tags: tuple = (), doc: str = ""):
    """Decorator registering a query builder into the catalog."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        CATALOG[name] = QuerySpec(name=name, spark_fn=fn, oracle=oracle, tags=tags, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def load_catalog() -> dict[str, QuerySpec]:
    """Import all query modules (registration side effect) and return a copy
    of CATALOG, entries in registration order."""
    from currency_etl_spark.queries import (  # noqa: F401
        corpus,
        curation,
        extras,
        graph,
        llm_ops,
        multimodal,
        reference,
        training,
        vectors,
    )
    from currency_etl_spark import streaming  # noqa: F401

    return dict(CATALOG)
