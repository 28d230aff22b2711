"""The one-pass report (`currency_queries.run_queries`) against its oracle:
the reference's 11 analytics queries (src/analyze.py:20-109) as Spark SQL,
each run as its own `spark.sql(...)` over the same rates. A property test
covers random histories; an exact test on a warehouse written by
`ParquetUpsertTable.merge_upsert` pins the all-time mean bit for bit."""

from __future__ import annotations

import datetime as _dt
import random

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from currency_etl_spark.currency_queries import run_queries
from currency_etl_spark.warehouse import ParquetUpsertTable

START = _dt.date(2024, 1, 1)
VIEW = "exchange_rates"
SCHEMA = "cc string, rate double, txt string, exchangedate date, rate_per_100 double"


def query_catalog(today: str) -> dict[str, str]:
    """The 11 queries keyed like analyze.py:20-109. The dialect shim is
    SURVEY §3.2's: NOW() becomes the pinned `today`, and INTERVAL '365 days'
    becomes INTERVAL 365 DAYS."""
    q: dict[str, str] = {}
    for cur in ("usd", "eur"):
        cc = cur.upper()
        q[f"avg_{cur}_rate"] = f"SELECT AVG(rate) AS avg_{cur} FROM {VIEW} WHERE cc='{cc}'"
        q[f"last_{cur}_rate"] = f"""
            SELECT rate AS last_{cur}, exchangedate
            FROM {VIEW}
            WHERE cc='{cc}'
            ORDER BY exchangedate DESC
            LIMIT 1
        """
        q[f"{cur}_range_year"] = f"""
            SELECT MIN(rate) AS min_{cur}, MAX(rate) AS max_{cur}
            FROM {VIEW}
            WHERE cc='{cc}' AND exchangedate >= DATE'{today}' - INTERVAL 365 DAYS
        """
        q[f"{cur}_days"] = f"""
            SELECT COUNT(*) AS days_{cur},
                   MIN(exchangedate) AS first_{cur}_date,
                   MAX(exchangedate) AS last_{cur}_date
            FROM {VIEW} WHERE cc='{cc}'
        """
        q[f"{cur}_change_month"] = f"""
            WITH days_info AS (
                SELECT COUNT(*) AS cnt FROM {VIEW} WHERE cc='{cc}'
            ),
            ordered AS (
                SELECT rate,
                       ROW_NUMBER() OVER (ORDER BY exchangedate DESC) AS rn
                FROM {VIEW}
                WHERE cc='{cc}'
            ),
            last AS (SELECT rate FROM ordered WHERE rn = 1),
            ago AS (
                SELECT o.rate
                FROM ordered o, days_info d
                WHERE o.rn = LEAST(d.cnt, 31)
            )
            SELECT last.rate - ago.rate AS diff_{cur}
            FROM last, ago
        """
    q["unique_currencies"] = f"SELECT COUNT(DISTINCT cc) AS num_currencies FROM {VIEW}"
    return q


def oracle(spark, rates, today: str) -> dict[str, list[dict]]:
    rates.createOrReplaceTempView(VIEW)
    return {
        name: [row.asDict() for row in spark.sql(sql).collect()]
        for name, sql in query_catalog(today).items()
    }


def assert_same_report(got: dict, want: dict) -> None:
    """Equal, except the means, which may differ by 1e-12 relative."""
    assert list(got) == list(want)
    for name, rows in want.items():
        if name.startswith("avg_"):
            ((col, w),) = rows[0].items()
            g = got[name][0][col]
            assert (g is None) == (w is None), name
            assert w is None or g == pytest.approx(w, rel=1e-12, abs=0), name
        else:
            assert got[name] == rows, name


# -- property test: random histories -----------------------------------------

_rate = st.one_of(st.none(), st.floats(0.01, 1000, allow_nan=False, allow_infinity=False))
#: (days since the previous row, rate): 0-40 rows with gaps of up to 30 days,
#: so a history spans up to 1,200 days and the 365-day bound can cut it.
_history = st.lists(st.tuples(st.integers(1, 30), _rate), max_size=40)


def _rows(cc, history):
    day, rows = START, []
    for gap, rate in history:
        day += _dt.timedelta(days=gap)
        rows.append((cc, rate, "x", day, None if rate is None else rate * 100))
    return rows


_LONG = [(21, 40.0 + 0.37 * i) for i in range(40)]


@given(
    usd=_history,
    eur=_history,
    extra=st.lists(
        st.tuples(st.sampled_from(["GBP", "PLN", None]), st.integers(0, 60), _rate), max_size=6
    ),
    today_offset=st.integers(0, 1300),
    rnd=st.randoms(use_true_random=False),
)
@example(usd=[], eur=_LONG, extra=[("GBP", 3, 1.5)], today_offset=700, rnd=random.Random(0))
@example(usd=_LONG, eur=[], extra=[(None, 3, 1.5)], today_offset=840, rnd=random.Random(1))
@example(usd=[], eur=[], extra=[], today_offset=0, rnd=random.Random(2))
@settings(
    derandomize=True, max_examples=10, deadline=None, suppress_health_check=list(HealthCheck)
)
def test_one_pass_matches_sql_oracle(spark, usd, eur, extra, today_offset, rnd):
    rows = _rows("USD", usd) + _rows("EUR", eur)
    rows += [(cc, r, "x", START + _dt.timedelta(days=d), None) for cc, d, r in extra]
    rnd.shuffle(rows)
    df = spark.createDataFrame(rows, SCHEMA)
    today = str(START + _dt.timedelta(days=today_offset))
    # The oracle sums each partition's rates in arrival order, the one-pass
    # plan in date order: on arbitrary DataFrames the mean may differ in
    # its last bits.
    assert_same_report(run_queries(spark, df, today=today), oracle(spark, df, today))


# -- exact test: a warehouse written by the upsert ----------------------------


def test_one_pass_equals_sql_oracle_on_upsert_warehouse(spark, tmp_path):
    """Two years of 4-decimal random-walk rates for three currencies, loaded
    in two merges (the second restates 60 days and adds 30). On the
    warehouse all 11 values, the mean included, must be == the oracle's:
    this pins the window's ascending-date summation order."""
    rng = random.Random(7)

    def batch(days, bump=0.0):
        rows = []
        for cc, base in (("USD", 41.0), ("EUR", 45.0), ("GBP", 52.0)):
            for d in days:
                rate = round(base * (1 + 0.05 * rng.random()) + bump, 4)
                rows.append((cc, rate, "x", START + _dt.timedelta(days=d), rate * 100))
        return spark.createDataFrame(rows, SCHEMA)

    t = ParquetUpsertTable(spark, str(tmp_path / "wh"), ["cc", "exchangedate"])
    t.merge_upsert(batch(range(730)))
    t.merge_upsert(batch(range(700, 760), bump=0.5))
    rates = t.read()
    for today in (START + _dt.timedelta(days=759), START + _dt.timedelta(days=900)):
        got = run_queries(spark, rates, today=str(today))
        assert got == oracle(spark, rates, str(today))
        assert got["usd_days"][0]["days_usd"] == 760
        assert got["unique_currencies"] == [{"num_currencies": 3}]
