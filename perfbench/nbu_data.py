"""Seeded NBU-shaped rate files and a plain-Python model of what the
warehouse and the daily report must contain after each load.

Every file is a JSON array of flat records shaped like the NBU API payload
(``r030, txt, rate, cc, exchangedate`` with ``dd.MM.yyyy`` dates). Rates
follow a per-currency multiplicative random walk rounded to 4 decimals.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

#: 60 ISO codes; USD and EUR are the pipeline's default filter.
CURRENCIES = (
    "USD EUR GBP PLN CHF JPY CNY CZK DKK NOK SEK CAD AUD NZD SGD HKD KRW INR "
    "TRY ILS HUF RON BGN MDL GEL KZT AZN AMD UZS TMT TJS KGS EGP SAR AED QAR "
    "KWD BHD OMR JOD LBP MAD TND DZD ZAR NGN KES BRL ARS CLP COP PEN MXN IDR "
    "MYR THB VND PHP PKR BDT"
).split()

DEFAULT_CURRENCIES = ("USD", "EUR")
START_RATE = {"USD": 41.0, "EUR": 45.0}


def nbu_date(d: dt.date) -> str:
    return d.strftime("%d.%m.%Y")


class RateWalk:
    """Deterministic per-currency random walk, one step per calendar day."""

    def __init__(self, seed: int, start: dt.date):
        self.rng = random.Random(seed)
        self.day = start
        self.rates = {
            cc: START_RATE.get(cc, round(self.rng.uniform(0.05, 120.0), 4)) for cc in CURRENCIES
        }

    def next_day(self) -> tuple[dt.date, dict[str, float]]:
        day = self.day
        out = dict(self.rates)
        for cc in CURRENCIES:
            step = 1.0 + self.rng.gauss(0.0, 0.004)
            self.rates[cc] = max(round(self.rates[cc] * step, 4), 0.0001)
        self.day = day + dt.timedelta(days=1)
        return day, out


def records(day: dt.date, rates: dict[str, float]) -> list[dict]:
    ds = nbu_date(day)
    return [
        {"r030": 100 + i, "txt": f"Валюта {cc}", "rate": rates[cc], "cc": cc, "exchangedate": ds}
        for i, cc in enumerate(CURRENCIES)
    ]


def restated(rng: random.Random, rates: dict[str, float]) -> dict[str, float]:
    """A correction of an earlier day: every rate moves by up to ±1%."""
    return {cc: round(r * (1.0 + rng.uniform(-0.01, 0.01)), 4) for cc, r in rates.items()}


def write_json(path: str, recs: list[dict]) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        json.dump(recs, f, ensure_ascii=False)
    return len(recs)


class WarehouseModel:
    """Last-write-wins map (cc, date) -> rate, fed in load order."""

    def __init__(self, currencies: tuple[str, ...]):
        self.currencies = set(currencies)
        self.rows: dict[tuple[str, dt.date], float] = {}

    def load(self, recs: list[dict]) -> int:
        """Apply records in order; returns how many pass the currency filter."""
        n = 0
        for r in recs:
            if r["cc"] in self.currencies:
                d = dt.datetime.strptime(r["exchangedate"], "%d.%m.%Y").date()
                self.rows[(r["cc"], d)] = r["rate"]
                n += 1
        return n

    def expected_report(self, today: dt.date) -> dict:
        """The 11 report values of the reference's analyze step."""
        out: dict = {}
        for cc in ("USD", "EUR"):
            cur = cc.lower()
            series = sorted((d, r) for (c, d), r in self.rows.items() if c == cc)
            rates = [r for _, r in series]
            desc = rates[::-1]
            year = [r for d, r in series if d >= today - dt.timedelta(days=365)]
            out[cur] = {
                "last": desc[0],
                "change_month": desc[0] - desc[min(len(desc), 31) - 1],
                "range_year": {f"min_{cur}": min(year), f"max_{cur}": max(year)},
                "avg_all_time": sum(rates) / len(rates),
                "days": len(rates),
            }
        out["general"] = {"num_currencies": len({c for c, _ in self.rows})}
        return out


def report_mismatches(got: dict, want: dict) -> list[str]:
    """Field-by-field compare; only the all-time mean is summed in a
    partition-dependent order, so only it gets a relative tolerance."""
    bad = []
    for sec in ("usd", "eur"):
        g, w = got.get(sec, {}), want[sec]
        for key in ("last", "change_month", "days", "range_year"):
            if g.get(key) != w[key]:
                bad.append(f"{sec}.{key}: {g.get(key)!r} != {w[key]!r}")
        ga = g.get("avg_all_time")
        if ga is None or abs(ga - w["avg_all_time"]) > 1e-9 * abs(w["avg_all_time"]):
            bad.append(f"{sec}.avg_all_time: {ga!r} != {w['avg_all_time']!r}")
    if got.get("general") != want["general"]:
        bad.append(f"general: {got.get('general')!r} != {want['general']!r}")
    return bad
