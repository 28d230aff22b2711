"""End-to-end batch pipeline (SURVEY.md §3.1): one Spark job replaces the
reference's four subprocesses (extract → transform → load → analyze, each a
process boundary with the filesystem as the dataflow edge).

Stage boundaries here are DataFrame lineage — lazy logical plan, one
optimized execution — not files + subprocesses. Only the HTTP edges of the
reference (NBU fetch, Telegram notify) stay outside; inputs arrive as
NBU-shaped JSON already landed in a raw dir (the fixture in tests, a
fetcher in production).

Backfill (src/additional/load_all.py, SURVEY §3.3): the reference loops
files × rows with one DB round trip per row; here a single glob scan feeds
one set-based MERGE — the biggest divergence from the reference's execution
model and the 100 TB win.
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from currency_etl_spark.currency_queries import run_queries
from currency_etl_spark.forecast import forecast_rates, render_png
from currency_etl_spark.reports import structure_report, write_reports
from currency_etl_spark.sources import read_nbu_json
from currency_etl_spark.transforms import DEFAULT_CURRENCIES, transform_rates
from currency_etl_spark.warehouse import ParquetUpsertTable

RATES_KEY = ["cc", "exchangedate"]


def run_pipeline(
    spark: SparkSession,
    raw_json_path: str,
    warehouse_path: str,
    reports_dir: str | None = None,
    today: str | None = None,
    currencies: tuple[str, ...] = DEFAULT_CURRENCIES,
    forecast_png_dir: str | None = None,
) -> dict:
    """raw JSON → transform → keyed upsert → 11 analytics → reports → forecast.

    Returns {"results": ..., "report": ..., "paths": ...}. The forecast is
    built only when ``forecast_png_dir`` asks for its charts.
    Idempotent by construction: re-running over the same raw data MERGEs to
    the same warehouse state (upsert key cc+exchangedate).
    """
    if today is None:
        today = str(_dt.date.today())

    raw = read_nbu_json(spark, raw_json_path)  # S2/S6: one parallel scan, any glob
    processed = transform_rates(raw, currencies=currencies)  # P1-P4

    table = ParquetUpsertTable(spark, warehouse_path, RATES_KEY)
    table.merge_upsert(processed)  # K3: set-based MERGE, last-write-wins

    rates = table.read()
    results = run_queries(spark, rates, today=today)  # the 11 analyze queries
    report = structure_report(results)

    paths: dict[str, str] = {}
    if reports_dir:
        paths = write_reports(report, reports_dir, today)

    if forecast_png_dir:
        for p in render_png(forecast_rates(rates), forecast_png_dir):
            paths[os.path.basename(p)] = p

    return {"results": results, "report": report, "paths": paths}


def backfill(spark: SparkSession, raw_glob: str, warehouse_path: str,
             currencies: tuple[str, ...] = DEFAULT_CURRENCIES) -> int:
    """Historical re-load: glob scan → transform → ONE merge (load_all.py
    replacement). Later files win ties via the input file ordering, and
    later rows win ties within a file, matching the reference's sequential
    sorted-glob row loop (load_all.py:62-76)."""
    raw = read_nbu_json(spark, raw_glob).withColumn("__file", F.input_file_name())
    # Lexicographic file order (the reference sorts the glob) becomes the
    # merge priority: rows from later files win duplicate keys. The distinct
    # file list is tiny (one per ingest day) — safe to collect.
    files = sorted(r["__file"] for r in raw.select("__file").distinct().collect())
    mapping = F.create_map(*[x for i, f in enumerate(files) for x in (F.lit(f), F.lit(i))])
    # Within a file, row order breaks the tie. A multiLine JSON file is never
    # split, so its rows sit in one partition in file order, and the low 33
    # bits of monotonically_increasing_id() (the row's index in its
    # partition) rank them; the file index occupies the bits above.
    row_in_partition = F.monotonically_increasing_id() % (1 << 33)
    with_seq = (
        transform_rates(raw, currencies=currencies, strict=True, keep=("__file",))
        .withColumn("__seq", mapping[F.col("__file")].cast("long") * (1 << 33) + row_in_partition)
        .drop("__file")
    )
    table = ParquetUpsertTable(spark, warehouse_path, RATES_KEY)
    table.merge_upsert(with_seq)
    return table.read().count()
