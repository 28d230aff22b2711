"""Report layer (SURVEY.md §2.2 K5-K7): the reference's nested-JSON / CSV /
TXT report emitters (src/analyze.py:135-205) over the query results.

These are driver-side formatters of tiny collected results (a handful of
scalar rows) — deliberately NOT distributed work. The shapes reproduce
analyze.py exactly: the 2-level dict {usd:{...}, eur:{...}, general:{...}},
one-row CSVs per section, and the f-string text report with the
min(days, 30) clamp and {:+.2f} signed formatting.
"""

from __future__ import annotations

import csv
import datetime as _dt
import json
import os
from typing import Any


def _safe_get(results: dict, key: str, field: str, default=None):
    """analyze.py:135-139 — first row's field, or default."""
    rows = results.get(key)
    if rows:
        return rows[0].get(field, default)
    return default


def _jsonable(v: Any) -> Any:
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    return v


def structure_report(results: dict[str, list[dict]]) -> dict:
    """Nested report dict — analyze.py:142-160 shape, field for field."""
    out: dict[str, Any] = {}
    for cur in ("usd", "eur"):
        rng = results.get(f"{cur}_range_year") or [{}]
        out[cur] = {
            "last": _safe_get(results, f"last_{cur}_rate", f"last_{cur}"),
            "change_month": _safe_get(results, f"{cur}_change_month", f"diff_{cur}", 0.0),
            "range_year": {k: _jsonable(v) for k, v in (rng[0] or {}).items()},
            "avg_all_time": _safe_get(results, f"avg_{cur}_rate", f"avg_{cur}"),
            "days": _safe_get(results, f"{cur}_days", f"days_{cur}", 0),
        }
    out["general"] = {
        "num_currencies": _safe_get(results, "unique_currencies", "num_currencies", 0)
    }
    return out


def format_change(label: str, value: float, days: int, full_period: int) -> str:
    """analyze.py:175-178 — change line with min(days, period) clamp."""
    actual_days = min(days, full_period)
    return f"{label} change in {actual_days} days: {value:+.2f} UAH"


def format_range(label: str, rng: dict, days: int, full_period: int) -> str:
    """analyze.py:180-186 — range line; period wording depends on history."""
    if not rng:
        return f"No data for {label} yet"
    min_v = rng.get("min_" + label.lower())
    max_v = rng.get("max_" + label.lower())
    if days < full_period:
        return f"{label} in {days} days fluctuated from {min_v:.2f} to {max_v:.2f} UAH"
    return f"{label} per year fluctuated from {min_v:.2f} to {max_v:.2f} UAH"


def text_report(structured: dict) -> str:
    """analyze.py:188-203 — the human-readable summary."""
    usd, eur = structured["usd"], structured["eur"]
    lines = [
        f"Current USD rate: {usd['last']:.2f} UAH",
        f"Current EUR rate: {eur['last']:.2f} UAH",
        format_change("USD", usd["change_month"], usd["days"], 30),
        format_change("EUR", eur["change_month"], eur["days"], 30),
        format_range("USD", usd["range_year"], usd["days"], 365),
        format_range("EUR", eur["range_year"], eur["days"], 365),
        f"The database tracks {structured['general']['num_currencies']} currencies",
    ]
    return "\n".join(lines)


def write_reports(structured: dict, reports_dir: str, today: str) -> dict[str, str]:
    """JSON + per-section CSV + TXT sinks (analyze.py:162-205). Returns the
    written paths. CSVs are one-row — written driver-side (coalesce(1)
    through Spark would be ceremony for a single row)."""
    os.makedirs(reports_dir, exist_ok=True)
    paths = {}

    jp = os.path.join(reports_dir, f"report_{today}.json")
    with open(jp, "w", encoding="utf-8") as f:
        json.dump(structured, f, ensure_ascii=False, indent=2, default=_jsonable)
    paths["json"] = jp

    for section in ("usd", "eur", "general"):
        cp = os.path.join(reports_dir, f"{section}_report_{today}.csv")
        row = {
            k: (json.dumps(v, default=_jsonable) if isinstance(v, dict) else v)
            for k, v in structured[section].items()
        }
        with open(cp, "w", encoding="utf-8", newline="") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(row.keys())
            w.writerow(row.values())
        paths[f"csv_{section}"] = cp

    tp = os.path.join(reports_dir, f"report_{today}.txt")
    with open(tp, "w", encoding="utf-8") as f:
        f.write(text_report(structured))
    paths["txt"] = tp
    return paths
