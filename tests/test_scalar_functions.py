"""SURVEY.md §2.8 scalar-function surface, line by line: every scalar the
reference uses, exercised through its Spark mapping with expected values.
These are the dialect-shim guarantees currency_queries.py and its SQL
oracle (tests/test_report_queries.py) rely on."""

from __future__ import annotations

import datetime as _dt

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def row(spark):
    def run(*cols):
        return spark.range(1).select(*cols).collect()[0]

    return run


def test_least_clamp(row):  # LEAST(a,b) — analyze.py:80,101; min(days,30) analyze.py:176
    r = row(F.least(F.lit(45), F.lit(31)).alias("a"), F.least(F.lit(12), F.lit(31)).alias("b"))
    assert (r["a"], r["b"]) == (31, 12)


def test_interval_arithmetic(row):  # NOW() - INTERVAL '365 days' — analyze.py:45,50
    r = row(
        (F.lit("2024-06-01").cast("timestamp") - F.expr("INTERVAL 365 DAYS")).alias("t"),
        F.date_sub(F.lit("2024-06-01").cast("date"), 365).alias("d"),
    )
    assert r["t"] == _dt.datetime(2023, 6, 2, 0, 0)
    assert r["d"] == _dt.date(2023, 6, 2)


def test_numeric_derivations(row):  # rate*100 transform.py:27; rate diff analyze.py:82
    r = row((F.lit(41.2345) * 100).alias("x"), (F.lit(43.5) - F.lit(41.25)).alias("d"))
    assert r["x"] == pytest.approx(4123.45)
    assert r["d"] == pytest.approx(2.25)


def test_date_parse_and_format(row):  # transform.py:25; load.py:49
    r = row(
        F.to_date(F.lit("15.03.2024"), "dd.MM.yyyy").alias("p"),
        F.date_format(F.lit("2024-03-15").cast("date"), "yyyy-MM-dd").alias("s"),
    )
    assert r["p"] == _dt.date(2024, 3, 15)
    assert r["s"] == "2024-03-15"


def test_fixed_point_formatting(row):  # {:.2f} / {:+.2f} — analyze.py:177,185-186
    r = row(
        F.format_number(F.lit(41.23456), 2).alias("f"),
        F.format_string("%+.2f", F.lit(2.1)).alias("signed"),
        F.format_string("%+.2f", F.lit(-0.755)).alias("neg"),
    )
    assert r["f"] == "41.23"
    assert r["signed"] == "+2.10"
    assert r["neg"] == "-0.76"


def test_date_sequence_generation(row):  # next-5-days — currency_etl.py:51-52
    r = row(
        F.sequence(
            F.date_add(F.lit("2024-01-10").cast("date"), 1),
            F.date_add(F.lit("2024-01-10").cast("date"), 5),
        ).alias("days")
    )
    assert r["days"] == [_dt.date(2024, 1, 11 + i) for i in range(5)]


def test_current_timestamp_exists(spark):  # NOW() mapping (unpinned paths only)
    r = spark.range(1).select(F.current_timestamp().alias("t")).collect()[0]
    assert isinstance(r["t"], _dt.datetime)


def test_json_safe_struct_serialization(spark):  # serialize_value — analyze.py:111-121
    df = spark.createDataFrame(
        [(41.25, _dt.date(2024, 3, 15))], "rate double, exchangedate date"
    )
    out = df.select(F.to_json(F.struct("rate", "exchangedate")).alias("j")).collect()[0]["j"]
    assert out == '{"rate":41.25,"exchangedate":"2024-03-15"}'


def test_monotonic_id_surrogate(spark):  # id SERIAL — create_tables.sql:2 (§1.2)
    ids = [r["id"] for r in spark.range(100).select(F.monotonically_increasing_id().alias("id")).collect()]
    assert len(set(ids)) == 100  # unique, not necessarily contiguous


def test_quantize_zero_vector_guard(spark):
    # all-zero embedding → scale 0; the guard must yield error 0, not the
    # engine's divide-by-zero result (Spark NULL vs DuckDB NaN/Inf)
    from currency_etl_spark.queries.llm_ops import quantize_audit

    df = spark.createDataFrame(
        [(1, "z", [0.0, 0.0, 0.0]), (2, "p", [1.0, -2.0, 0.5])],
        "vec_id long, label string, embedding array<double>",
    )
    rows = {r["vec_id"]: r for r in quantize_audit(df).collect()}
    assert rows[1]["scale"] == 0.0
    assert rows[1]["err_max"] == 0.0
    assert rows[1]["err_mean"] == 0.0
    assert rows[2]["scale"] > 0 and rows[2]["err_max"] is not None
