"""The benchmark workloads.

Each workload prepares its inputs (``generate``: NBU files made from the
seed, or the committed corpus, whose pass order the seed shuffles), runs
checked but untimed warm-up operations (``warmup``, which returns each
one's label and problems), and then hands the measuring loop one operation
at a time (``next_op``): a callable to time and a check to run afterwards,
outside the timed region. A workload calls only the program's public functions,
always through their module attribute, so an installed tracer sees every
call.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import random
import traceback

from nbu_data import (
    DEFAULT_CURRENCIES,
    RateWalk,
    WarehouseModel,
    records,
    report_mismatches,
    restated,
    write_json,
)

#: First day of generated history.
HISTORY_START = dt.date(2021, 1, 1)


class Op:
    """One timed operation: ``run`` is timed, ``check(result)`` is not and
    returns a list of problems (empty when the output is correct)."""

    def __init__(self, label: str, run, check):
        self.label, self.run, self.check = label, run, check


def warehouse_files(path: str) -> dict[str, tuple[int, int, int]]:
    """Data files of a parquet table: path -> (inode, size, mtime_ns)."""
    out = {}
    for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        st = os.stat(p)
        out[p] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


def bytes_written(before: dict, after: dict) -> int:
    """Bytes of data files that are new or rewritten between two listings."""
    return sum(v[1] for p, v in after.items() if before.get(p) != v)


class EtlDaily:
    """Land one new day's file and run the whole daily pipeline on it, over
    a warehouse that set-up filled with two years of history."""

    HISTORY_DAYS = 2 * 365
    RESTATE_EVERY = 4  # one daily file in four also restates an earlier day
    #: days run untimed after the history load: the JVM keeps compiling
    #: the pipeline's code for about ten days, so timing starts near the plateau
    WARMUP_DAYS = 8
    #: two passes of three days fill a 10 s run at any speed this host has
    #: shown, so every run times the same six days: with a day count that
    #: varies, runs that time fewer days weigh the still-compiling first
    #: days more, and CPU per day split into two groups a tenth apart
    pass_size = 3

    def __init__(self, spark, work: str, seed: int, tracer=None):
        self.spark, self.work, self.seed = spark, work, seed
        self.rng = random.Random(seed * 7919 + 1)
        self.restate_phase = self.rng.randrange(self.RESTATE_EVERY)
        self.n_days = 0
        self.wh = os.path.join(work, "warehouse", "exchange_rates")
        self.reports = os.path.join(work, "reports")
        #: per timed day: (warehouse bytes written, rows ingested, data files)
        self.write_log: list[tuple[int, int, int]] = []

    def _next_day(self) -> tuple[dt.date, dict[str, float]]:
        day, rates = self.walk.next_day()
        self.days[day] = rates
        return day, rates

    def generate(self, root: str) -> dict:
        """Two years of history, one NBU-shaped file per ISO week, so the
        history load scans over a hundred files."""
        self.root = root
        self.walk = RateWalk(self.seed, HISTORY_START)
        self.days: dict[dt.date, dict[str, float]] = {}
        self.model = WarehouseModel(DEFAULT_CURRENCIES)
        by_week: dict[str, list[dict]] = {}
        for _ in range(self.HISTORY_DAYS):
            day, rates = self._next_day()
            year, week, _ = day.isocalendar()
            by_week.setdefault(f"{year}w{week:02d}", []).extend(records(day, rates))
        n = 0
        for week, recs in sorted(by_week.items()):
            n += write_json(os.path.join(root, "history", f"nbu_{week}.json"), recs)
            self.model.load(recs)
        return {"history_files": len(by_week), "history_records": n}

    def warmup(self) -> list[tuple[str, list[str]]]:
        from currency_etl_spark import pipeline

        got = pipeline.backfill(self.spark, os.path.join(self.root, "history", "*.json"), self.wh)
        want = len(self.model.rows)
        problems = [("history backfill", [] if got == want else [f"rows {got} != {want}"])]
        for _ in range(self.WARMUP_DAYS):
            op = self.next_op()
            problems.append((op.label, op.check(op.run())))
        self.write_log.clear()
        return problems

    def next_op(self) -> Op:
        from currency_etl_spark import pipeline

        day, rates = self._next_day()
        recs = records(day, rates)
        self.n_days += 1
        if self.n_days % self.RESTATE_EVERY == self.restate_phase:
            old = day - dt.timedelta(days=self.rng.randint(1, 60))
            recs = records(old, restated(self.rng, self.days[old])) + recs
        path = os.path.join(self.root, "daily", f"nbu_{day:%Y%m%d}.json")
        write_json(path, recs)
        rows_in = self.model.load(recs)
        want = self.model.expected_report(day)
        today = day.isoformat()
        before = warehouse_files(self.wh)

        def run():
            return pipeline.run_pipeline(self.spark, path, self.wh, reports_dir=self.reports, today=today)

        def check(result):
            after = warehouse_files(self.wh)
            self.write_log.append((bytes_written(before, after), rows_in, len(after)))
            with open(os.path.join(self.reports, f"report_{today}.json"), encoding="utf-8") as f:
                written = json.load(f)
            return report_mismatches(written, want) + report_mismatches(result["report"], want)

        return Op(f"day {today}", run, check)


#: Pinned catalog entries: standalone ones (TPC-H-style, reference and
#: curation queries) that share nothing, and dedup/text/vector/multimodal
#: ones that share memoized bases within a pass. Fixed here so catalog
#: growth never changes the workload.
ANALYTICS_STANDALONE = (
    "q1_pricing_summary",
    "q12_shipmode_priority",
    "q13_customer_distribution",
    "ref_change_month",
    "docs_quality_filter",
)
#: Memo families, each in its consumer order: the first member pays the
#: family's builds in every pass.
ANALYTICS_SHARED = (
    ("dedup_minhash_lsh", "dedup_lsh_recall"),  # MinHash shingles/signatures/pairs
    ("docs_bm25_search", "docs_inverted_index"),  # text index
    ("knn_incremental",),  # IVF centroids and index
    ("multimodal_phash_near",),  # pHash index, built by a pandas UDF
)
#: The engine's reference corpus at scale factor 0.01, committed with the
#: benchmark (read-only; a run may read nothing outside its checkout).
CORPUS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "corpus")
CORPUS_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _normalized(df):
    """Column- and row-order-insensitive form for an oracle compare."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    return df.loc[df.astype(str).sort_values(by=sorted(df.columns)).index].reset_index(drop=True)


class Analytics:
    """Run one pinned catalog entry per operation (built, then executed to a
    noop sink). Memos are reset at the start of each pass over the list, so
    shared-base builds land inside the timed operations that pay them."""

    def __init__(self, spark, work: str, seed: int, tracer=None):
        from currency_etl_spark.catalog import load_catalog

        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.catalog = load_catalog()
        self.entries = list(ANALYTICS_STANDALONE) + [n for fam in ANALYTICS_SHARED for n in fam]
        self.rng = random.Random(seed)
        self.failed_entries: dict[str, str] = {}
        self.queue: list[str] = []
        self.memo = {"builds": 0, "touches": 0, "build_s": 0.0}
        self.pass_size = len(self.entries)

    def generate(self, root: str) -> dict:
        """The corpus is fixed; the seed only orders each pass."""
        import pyarrow.parquet as pq

        self.sf = CORPUS_DIR
        return {
            t: pq.ParquetFile(os.path.join(CORPUS_DIR, f"{t}.parquet")).metadata.num_rows
            for t in CORPUS_TABLES
        }

    def _oracle_problems(self, name: str) -> list[str]:
        import duckdb
        import pandas as pd

        spec = self.catalog[name]
        got = _normalized(spec.spark_fn(self.spark, self.sf).toPandas())
        if spec.oracle is None:
            return [] if len(got) > 0 else ["no rows"]
        con = duckdb.connect()
        for t in CORPUS_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.sf, t)}.parquet'")
        want = _normalized(con.sql(spec.oracle).df())
        con.close()
        if list(got.columns) != list(want.columns) or len(got) != len(want):
            return [f"shape {list(got.columns)}x{len(got)} != {list(want.columns)}x{len(want)}"]
        try:
            pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
        except AssertionError as e:
            return [f"oracle mismatch: {str(e).splitlines()[0]}"]
        return []

    def warmup(self) -> list[tuple[str, list[str]]]:
        """One untimed pass that checks every entry against its oracle."""
        from currency_etl_spark.operators import ckpt

        ckpt.reset_memos()
        problems = []
        for name in self.entries:
            try:
                p = self._oracle_problems(name)
            except Exception as e:  # reported, never dropped from the list
                traceback.print_exc()
                p = [f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"]
            if p:
                self.failed_entries[name] = p[0]
            problems.append((name, p))
        ckpt.drain_memo_touches()
        return problems

    def _pass_order(self) -> list[str]:
        """A seeded shuffle that keeps each memo family in its consumer
        order, so the same entry pays each build whatever the seed."""
        order = list(self.entries)
        self.rng.shuffle(order)
        for fam in ANALYTICS_SHARED:
            slots = sorted(order.index(n) for n in fam)
            for slot, name in zip(slots, fam):
                order[slot] = name
        return order

    def next_op(self) -> Op:
        from currency_etl_spark.operators import ckpt

        if not self.queue:
            self.queue = self._pass_order()
            ckpt.reset_memos()
        name = self.queue.pop(0)
        spec = self.catalog[name]
        mod = spec.spark_fn.__module__.rsplit(".", 1)[-1]
        tracer = self.tracer

        def run():
            if tracer is None:
                spec.spark_fn(self.spark, self.sf).write.format("noop").mode("overwrite").save()
                return None
            with tracer.span(f"queries.{mod}.build"):
                df = spec.spark_fn(self.spark, self.sf)
            with tracer.span(f"queries.{mod}.exec"):
                df.write.format("noop").mode("overwrite").save()
            return None

        def check(_):
            for _tag, built, sec in ckpt.drain_memo_touches():
                self.memo["touches"] += 1
                if built:
                    self.memo["builds"] += 1
                    self.memo["build_s"] += sec
            bad = self.failed_entries.get(name)
            return [f"failed its oracle check: {bad}"] if bad else []

        return Op(name, run, check)


WORKLOADS = {"etl_daily": EtlDaily, "analytics": Analytics}
