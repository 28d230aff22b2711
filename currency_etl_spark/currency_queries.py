"""The reference's 11 analytics queries as one Spark plan (SURVEY.md §2.5–§2.8).

Source semantics: src/analyze.py:20-109 — eleven Postgres queries, each its
own scan of exchange_rates. Per currency (USD, EUR): the all-time mean, the
latest rate, the min/max rate over the 365 days before NOW(), the day count
with first and last date, and the change against the rate at row
LEAST(cnt, 31) from the newest; plus COUNT(DISTINCT cc).

Here one window and one grouped aggregate compute all eleven:

    rates → row_number() by exchangedate within cc, plus the cc's row count
          → groupBy(cc): avg, count, first/last date, the rate at rn = cnt
            (latest), the rate at rn = GREATEST(cnt - 30, 1) (a month ago),
            min/max of the rates dated on or after today - 365 days
          → one collected row per currency; num_currencies counts the
            non-NULL cc groups

Both operators share one shuffle on cc, so the whole report is one plan
instead of eleven. The window orders by ascending date: the mean then sums
each currency's rates in the order a plain AVG reads them from the
warehouse, so it stays bit-identical to the reference query's. `today`
replaces NOW() so results are deterministic and testable against a frozen
warehouse (SURVEY §7.3). The eleven SQL texts are kept as the test oracle
(tests/test_report_queries.py).
"""

from __future__ import annotations

import datetime as _dt
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F


def run_queries(
    spark: SparkSession,
    rates: DataFrame,
    today: str | _dt.date | None = None,
) -> dict[str, list[dict[str, Any]]]:
    """All 11 report values of `rates`, returned as {query_name: [row_dict,
    ...]} like analyze.py:123-133's fetch loop: one row per query, except
    `last_*` and `*_change_month`, which have no row for a currency
    without history."""
    if today is None:
        today = _dt.date.today()
    by_date = W.partitionBy("cc").orderBy("exchangedate")
    ranked = rates.select(
        "cc",
        "rate",
        "exchangedate",
        F.row_number().over(by_date).alias("rn"),
        F.count(F.lit(1))
        .over(by_date.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        .alias("cnt"),
    )

    def rate_at(rn):
        return F.max(F.when(F.col("rn") == rn, F.col("rate")))

    latest = rate_at(F.col("cnt"))
    in_year = F.when(
        F.col("exchangedate") >= F.date_sub(F.lit(str(today)).cast("date"), 365), F.col("rate")
    )
    per_cc = ranked.groupBy("cc").agg(
        F.avg("rate").alias("avg"),
        latest.alias("last"),
        F.min(in_year).alias("min"),
        F.max(in_year).alias("max"),
        F.count(F.lit(1)).alias("days"),
        F.min("exchangedate").alias("first_date"),
        F.max("exchangedate").alias("last_date"),
        (latest - rate_at(F.greatest(F.col("cnt") - 30, F.lit(1)))).alias("diff"),
    )
    rows = {r["cc"]: r.asDict() for r in per_cc.collect()}

    out: dict[str, list[dict[str, Any]]] = {}
    for cur in ("usd", "eur"):
        row = rows.get(cur.upper())
        # No history: the aggregates are NULL (count 0), the per-row queries empty.
        v = row or {**dict.fromkeys(per_cc.columns), "days": 0}
        out[f"avg_{cur}_rate"] = [{f"avg_{cur}": v["avg"]}]
        out[f"last_{cur}_rate"] = (
            [{f"last_{cur}": v["last"], "exchangedate": v["last_date"]}] if row else []
        )
        out[f"{cur}_range_year"] = [{f"min_{cur}": v["min"], f"max_{cur}": v["max"]}]
        out[f"{cur}_days"] = [
            {
                f"days_{cur}": v["days"],
                f"first_{cur}_date": v["first_date"],
                f"last_{cur}_date": v["last_date"],
            }
        ]
        out[f"{cur}_change_month"] = [{f"diff_{cur}": v["diff"]}] if row else []
    out["unique_currencies"] = [{"num_currencies": sum(cc is not None for cc in rows)}]
    return out
