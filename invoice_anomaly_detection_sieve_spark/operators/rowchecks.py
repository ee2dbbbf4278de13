"""Row-level data-quality predicates (SURVEY.md F8; DQ-001
requirements.md:241-248 — spec'd in the reference, implemented here as
plain boolean Column expressions over the extracted doc columns)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

LINE_SUM_TOL = 0.01  # header total vs Σ line amounts within ±1%
MAX_FUTURE_DAYS = 365
VALID_CURRENCIES = ["USD", "EUR", "GBP", "CAD", "AUD", "JPY", "CHF", "CNY", "INR", "MXN"]


def line_sum_mismatch(total: Column, line_amount_sum: Column, n_lines: Column) -> Column:
    """|Σ lines − total| > 1%·max(|total|, 1) — only when lines exist."""
    base = F.greatest(F.abs(F.coalesce(total, F.lit(0.0))), F.lit(1.0))
    diff = F.abs(F.coalesce(line_amount_sum, F.lit(0.0)) - F.coalesce(total, F.lit(0.0)))
    return (n_lines > 0) & total.isNotNull() & (diff > F.lit(LINE_SUM_TOL) * base)


def bad_currency(currency: Column) -> Column:
    return currency.isNotNull() & ~currency.isin(VALID_CURRENCIES)


def future_date(date: Column, as_of: Column) -> Column:
    return date.isNotNull() & (F.datediff(date, as_of) > MAX_FUTURE_DAYS)


def with_row_checks(docs: DataFrame, as_of: str | None = None) -> DataFrame:
    """Attach the three DQ flags (dq_line_sum_mismatch, dq_bad_currency,
    dq_future_date). ``as_of`` pins 'today' for deterministic tests."""
    from ..functions.exprcache import cached_exprs

    def _dq_cols():
        as_of_col = F.to_date(F.lit(as_of)) if as_of else F.current_date()
        # single withColumns dict — a chained withColumn costs a py4j
        # round-trip + plan re-analysis each (driver latency per run)
        return {
            "dq_line_sum_mismatch": line_sum_mismatch(
                F.col("total"), F.col("line_amount_sum"), F.col("n_lines")
            ),
            "dq_bad_currency": bad_currency(F.col("currency")),
            "dq_future_date": future_date(F.col("date"), as_of_col),
        }

    return docs.withColumns(cached_exprs(("dq.cols", as_of), _dq_cols))
