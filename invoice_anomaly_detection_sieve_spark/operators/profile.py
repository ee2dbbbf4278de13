"""Per-partition profile learning (SURVEY.md §2.4 A1/A2/A3/A9).

Generalizes the reference's ``vendor_amount_baselines`` job
(scripts/train_anomaly.py:14-54: groupby(vendor).agg(mean,std,count), NULL
std → 0) into a full column profile per partition: count, null rate,
approx-distinct (HLL sketch), mean/std, quantile sketch, deciles (PSI bin
edges), and the leading-digit histogram that feeds the Benford check
(architecture.md:223, requirements.md:258).

One shuffle total. Every sketch used (``approx_count_distinct``,
``percentile_approx``) is a mergeable aggregate, so Catalyst's partial
(map-side) aggregation already defuses row-count skew: a hot partition
combines locally on every input split before the single exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PROFILE_QUANTILES = [0.25, 0.5, 0.75, 0.99]
PSI_DECILES = [i / 10.0 for i in range(1, 10)]
APPROX_ACCURACY = 10_000


def leading_digit(col):
    """First significant digit (1-9) of a numeric column, as a string."""
    return F.regexp_extract(F.abs(col).cast("string"), "[1-9]", 0)


def profile(docs: DataFrame, field: str = "total") -> DataFrame:
    """Profile one numeric field per partition — single groupBy.

    Output: part, field, cnt, null_rate, approx_distinct, mean, std,
    quantiles (p25/p50/p75/p99), deciles (p10..p90), digit_hist (9 leading
    digit counts), sample_count (non-null rows; the cold-start gate,
    app/anomaly.py:91-92).
    """
    from ..functions.exprcache import cached_exprs

    def _in_cols():
        # pre-project the aggregate's inputs as ATTRIBUTES: the leading-
        # digit regexp is referenced by 9 separate sum aggregates, and
        # separate aggregate expressions get no common-subexpression
        # elimination — inlined, the regexp (abs → cast-to-string → regex
        # scan) ran 9× per input row (same fix as the simhash gram hash)
        return [F.col("part"), F.col(field).alias("_v"),
                leading_digit(F.col(field)).alias("_d")]

    def _agg_cols():
        col = F.col("_v")
        digit = F.col("_d")
        return [
            F.count(F.lit(1)).alias("cnt"),
            (F.sum(col.isNull().cast("long")) / F.count(F.lit(1))).alias("null_rate"),
            F.approx_count_distinct(col).alias("approx_distinct"),
            F.avg(col).alias("mean"),
            F.coalesce(F.stddev_samp(col), F.lit(0.0)).alias("std"),
            # ONE percentile sketch queried at all 13 points: the sketch
            # state depends only on (rows, accuracy), not on which
            # percentiles are asked of it, so quantiles/deciles sliced from
            # a single aggregate are bit-identical to the two-sketch
            # formulation — which built (and merged) the same summaries
            # twice per group
            F.percentile_approx(
                col, PROFILE_QUANTILES + PSI_DECILES, APPROX_ACCURACY
            ).alias("_qd"),
            F.array(
                *[F.sum((digit == str(d)).cast("long")).alias(f"d{d}") for d in range(1, 10)]
            ).alias("digit_hist"),
            F.count(col).alias("sample_count"),
        ]

    def _out_cols():
        nq = len(PROFILE_QUANTILES)
        return [
            F.col("part"),
            F.lit(field).alias("field"),
            F.col("cnt"),
            F.col("null_rate"),
            F.col("approx_distinct"),
            F.col("mean"),
            F.col("std"),
            F.slice(F.col("_qd"), 1, nq).alias("quantiles"),
            F.slice(F.col("_qd"), nq + 1, len(PSI_DECILES)).alias("deciles"),
            F.col("digit_hist"),
            F.col("sample_count"),
        ]

    staged = docs.select(*cached_exprs(("profile.in", field), _in_cols))
    agg = staged.groupBy("part").agg(*cached_exprs(("profile.agg", field), _agg_cols))
    return agg.select(*cached_exprs(("profile.out", field), _out_cols))


def digit_histogram(docs: DataFrame) -> DataFrame:
    """Leading-digit histogram of ``total`` alone (the Benford input) — one slim
    groupBy for testing CURRENT data against the Benford expectation when
    a stored baseline supplies the rest of the profile (recomputing the
    full profile just for its digit_hist would waste the sketch work)."""
    # digit materialized as an attribute below the aggregate: 9 separate
    # sum aggregates referencing the regexp inline would each re-run it
    staged = docs.select(F.col("part"), leading_digit(F.col("total")).alias("_d"))
    digit = F.col("_d")
    return staged.groupBy("part").agg(
        F.array(*[F.sum((digit == str(d)).cast("long")) for d in range(1, 10)]).alias("digit_hist")
    )

