"""Transform stage: the reference's pandas chain re-expressed declaratively.

Reference semantics (src/transform.py:17-30, SURVEY.md §2.3):
  P1 project [cc, rate, txt, exchangedate] — drop unknown upstream fields
  P2 strict dd.MM.yyyy date parse (pandas raises on mismatch)
  P3 derive rate_per_100 = rate * 100
  P4 keep cc ∈ allowed set (default USD/EUR)

All four are Catalyst expressions: the projection prunes columns at the
scan, the IN-filter pushes down, the derivation folds into codegen. The
strict-parse contract is kept by counting unparsable rows (Spark's
`to_date` yields null under ANSI-off) and raising like pandas would.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_CURRENCIES = ("USD", "EUR")
DATE_FMT = "dd.MM.yyyy"


class StrictParseError(ValueError):
    """Raised when exchangedate does not match dd.MM.yyyy — parity with the
    reference's pandas `pd.to_datetime(..., format=...)` raising behavior
    (src/transform.py:25)."""


def transform_rates(
    raw: DataFrame,
    currencies: tuple[str, ...] = DEFAULT_CURRENCIES,
    strict: bool = True,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """raw NBU records → processed rates table.

    Output schema: (cc, rate, txt, exchangedate: date, rate_per_100 [, *keep]).
    `keep` carries pipeline bookkeeping columns (e.g. ingest ordering)
    through the projection.
    """
    out = (
        # P2 uses try_to_date: under Spark 4's default ANSI mode a plain
        # to_date throws mid-task on the first bad row; try_to_date yields
        # null so strict mode can count and report all bad rows itself.
        raw.select("cc", "rate", "txt", "exchangedate", *keep)  # P1
        .withColumn("exchangedate", F.try_to_date("exchangedate", DATE_FMT))  # P2
        .withColumn("rate_per_100", F.col("rate") * F.lit(100))  # P3
        .filter(F.col("cc").isin(*currencies))  # P4
    )
    if strict:
        # The check reads `rate` as well as the date, so a FAILFAST source
        # (sources.read_nbu_json) rejects an unparsable rate in this job,
        # before anything is written; a column the check pruned away would
        # first be parsed inside the warehouse merge.
        bad = out.agg(F.count_if(F.col("exchangedate").isNull()), F.count("rate")).first()[0]
        if bad:
            raise StrictParseError(
                f"{bad} row(s) failed strict {DATE_FMT} parse (reference raises here)"
            )
    return out
