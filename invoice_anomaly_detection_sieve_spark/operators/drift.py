"""Distribution-drift constraints (SURVEY.md M5/M7/A9).

Per-doc: the reference's amount z-score against the learned per-partition
baseline (app/anomaly.py:72-86; ≥2.5 ⇒ UNIT_PRICE_OUTLIER) — a broadcast
join of the tiny profiles table plus column arithmetic.

Per-partition: the drift monitors the reference specs but never shipped
(architecture.md:223, requirements.md:258 ML-003):
- Benford leading-digit test (chi² + mean-absolute-deviation against
  log10(1+1/d)) straight off the profile's digit histogram — no extra scan;
- PSI against the baseline profile's decile edges — by construction each
  baseline bin holds 10% mass, so PSI needs only the *current* bin counts:
  one groupBy after a broadcast join of the edges;
- two-sample KS as cumulative counts over a value-ordered RANGE window —
  exact statistic, one shuffle, spill-safe on hot partitions (the
  grouped-map formulation survives as ``ks_2samp_pandas``, the parity
  reference).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions import scoring as S

BENFORD_EXPECTED = [math.log10(1 + 1 / d) for d in range(1, 10)]
Z_OUTLIER_THRESHOLD = 2.5  # app/anomaly.py:85
PSI_ALERT = 0.2  # industry-standard "significant shift" cut
BENFORD_CHI2_ALERT = 26.12  # χ² critical value, df=8, α=0.001 (the flag)


def with_anomaly_scores(
    docs: DataFrame,
    profiles: DataFrame,
    history_includes_self: bool = True,
) -> DataFrame:
    """Attach amount_z, outlier flag, anom_prob per doc.

    ``docs`` must already carry ``bank_change`` (registry.bank_change_flags).
    Profiles are one row per partition ⇒ a broadcast join (J5).

    The history size is the profile row's ``cnt`` column — ONE broadcast
    join and one profile computation total (a separate history frame
    derived from the same profiles re-ran the whole profile aggregation
    for a second broadcast).

    ``history_includes_self``: True when the history count was profiled
    from the corpus being validated (each doc is in its own history, so
    "prior invoices" = count − 1, app/anomaly.py:32-41); False for a
    STORED baseline, whose count already excludes the incoming doc —
    subtracting 1 there would shift the <5 cold-history discount boundary
    by one for every partition.
    """
    from ..functions.exprcache import cached_exprs

    prof = profiles.select(*cached_exprs(("anom.prof",), lambda: [
        F.col("part"),
        F.col("mean").alias("_bl_mean"),
        F.col("std").alias("_bl_std"),
        F.col("sample_count").alias("_bl_n"),
        F.col("cnt").alias("part_doc_count"),
    ]))
    out = docs.join(broadcast(prof), "part", "left")

    def _score_cols():
        if history_includes_self:
            hist_excl_self = F.greatest(
                F.coalesce(F.col("part_doc_count"), F.lit(1)) - 1, F.lit(0)
            )
        else:
            hist_excl_self = F.greatest(
                F.coalesce(F.col("part_doc_count"), F.lit(0)), F.lit(0)
            )
        z = S.amount_z(F.col("total"), F.col("_bl_mean"), F.col("_bl_std"), F.col("_bl_n"))
        # one withColumns dict (not a chain): each chained withColumn is a
        # py4j round-trip + plan re-analysis — pure driver latency per run.
        # The z / hist expressions are inlined where the old chain
        # referenced the freshly attached columns; identical values, and
        # codegen's common-subexpression elimination keeps the runtime
        # cost the same.
        return {
            "amount_z": z,
            "amount_outlier": z >= Z_OUTLIER_THRESHOLD,
            "hist_count": hist_excl_self,
            "anom_prob": S.anomaly_probability(z, F.col("bank_change"), hist_excl_self),
        }

    out = out.withColumns(cached_exprs(("anom.score", history_includes_self), _score_cols))
    return out.drop("_bl_mean", "_bl_std", "_bl_n", "part_doc_count")


def benford_stats(profiles: DataFrame) -> DataFrame:
    """Benford conformity per partition from the profiled digit histogram.

    Output: part, benford_n, benford_chi2, benford_mad, benford_fail.
    ``benford_fail`` is the χ² test; ``benford_mad`` is reported only, to
    be read against Nigrini's conformity bound of 0.015.
    """
    from ..functions.exprcache import cached_exprs

    def _benford_cols():
        exp = F.array(*[F.lit(e) for e in BENFORD_EXPECTED])
        n = F.aggregate(F.col("digit_hist"), F.lit(0.0), lambda a, x: a + x)
        obs_p = F.transform(F.col("digit_hist"), lambda x: x / F.greatest(n, F.lit(1.0)))
        chi2 = F.aggregate(
            F.zip_with(obs_p, exp, lambda o, e: (o - e) * (o - e) / e),
            F.lit(0.0),
            lambda a, x: a + x,
        ) * n
        mad = F.aggregate(
            F.zip_with(obs_p, exp, lambda o, e: F.abs(o - e)), F.lit(0.0), lambda a, x: a + x
        ) / F.lit(9.0)
        return [
            F.col("part"),
            n.cast("long").alias("benford_n"),
            chi2.alias("benford_chi2"),
            mad.alias("benford_mad"),
            (chi2 > BENFORD_CHI2_ALERT).alias("benford_fail"),
        ]

    return profiles.select(*cached_exprs(("benford.sel",), _benford_cols))


def psi(
    current: DataFrame, baseline_profiles: DataFrame, field: str = "total"
) -> DataFrame:
    """Population-stability index of ``field`` vs the baseline deciles.

    Baseline bins hold exactly 10% each (the profile's decile edges), so
    PSI = Σ (pᵢ − 0.1)·ln(pᵢ/0.1) over the current bin proportions.
    Zero-count bins are floored at 1e-4 (standard continuity correction).

    A partition present in ``current`` but ABSENT from the baseline (a
    novel partition — the strongest possible drift signal) is emitted
    with psi NULL and psi_fail TRUE; an inner join would silently drop
    it and the monitor would report all-clear on 100% unseen data.

    Output: part, psi, psi_fail.
    """
    cur_parts = current.where(F.col(field).isNotNull()).select("part").distinct()
    edges = baseline_profiles.select("part", F.col("deciles").alias("_edges"))
    binned = (
        current.where(F.col(field).isNotNull())
        .join(broadcast(edges), "part", "inner")
        .withColumn(
            "_bin",
            F.aggregate(
                F.col("_edges"),
                F.lit(0),
                lambda acc, edge: acc + (F.col(field) > edge).cast("int"),
            ),
        )
    )
    counts = binned.groupBy("part", "_bin").agg(F.count(F.lit(1)).alias("_c"))
    totals = counts.groupBy("part").agg(F.sum("_c").alias("_n"))
    props = counts.join(totals, "part").select(
        "part", (F.col("_c") / F.col("_n")).alias("_p")
    )
    floor = 1e-4
    term = (F.col("_p") - 0.1) * F.log(F.greatest(F.col("_p"), F.lit(floor)) / 0.1)
    # bins absent from the current sample contribute (0 - 0.1)*ln(floor/0.1);
    # account for them via the bin count per part
    present = props.groupBy("part").agg(
        F.sum(term).alias("_psi_present"), F.count(F.lit(1)).alias("_nbins")
    )
    missing_term = (0.0 - 0.1) * math.log(floor / 0.1)
    out = present.select(
        "part",
        (F.col("_psi_present") + (10 - F.col("_nbins")) * F.lit(missing_term)).alias("psi"),
    )
    return cur_parts.join(out, "part", "left").select(
        "part",
        "psi",
        F.when(F.col("psi").isNull(), F.lit(True))
        .otherwise(F.col("psi") > PSI_ALERT)
        .alias("psi_fail"),
    )


KS_SCHEMA = "part string, ks_stat double, n_current long, n_baseline long"


def ks_2samp(current: DataFrame, baseline: DataFrame, field: str = "total") -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic per partition.

    Scale-safe plan (round-3 VERDICT "What's wrong" item 2): tag source,
    cumulative counts over a RANGE window ordered by value (ties collapse
    to the same frame, exactly ``searchsorted(side="right")``), then
    max |cdf_c − cdf_b| per partition. One shuffle on part; WindowExec
    streams and SPILLS a hot partition instead of materializing it in a
    Python worker's pandas frame the way the grouped-map reference
    (``ks_2samp_pandas``) does. Every operand is an exact integer-count
    division, so the statistic is bit-identical to the pandas/numpy
    formulation (parity-pinned by tests) and to the DuckDB oracle.

    Output: part, ks_stat (NaN when either side is empty), n_current,
    n_baseline.
    """
    cur = current.select(
        "part", F.col(field).alias("_v"), F.lit(1).alias("_ic"), F.lit(0).alias("_ib")
    )
    base = baseline.select(
        "part", F.col(field).alias("_v"), F.lit(0).alias("_ic"), F.lit(1).alias("_ib")
    )
    both = cur.unionByName(base).where(F.col("_v").isNotNull())
    w = (
        Window.partitionBy("part")
        .orderBy("_v")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = both.select(
        "part",
        "_ic",
        "_ib",
        F.sum("_ic").over(w).alias("_cc"),
        F.sum("_ib").over(w).alias("_cb"),
    )
    n = both.groupBy("part").agg(
        F.sum("_ic").cast("long").alias("n_current"),
        F.sum("_ib").cast("long").alias("n_baseline"),
    )
    stat = (
        cum.join(broadcast(n), "part")
        .groupBy("part")
        .agg(
            F.max(
                F.abs(
                    F.try_divide(F.col("_cc").cast("double"), F.col("n_current"))
                    - F.try_divide(F.col("_cb").cast("double"), F.col("n_baseline"))
                )
            ).alias("ks_stat"),
            F.any_value(F.col("n_current")).alias("n_current"),
            F.any_value(F.col("n_baseline")).alias("n_baseline"),
        )
    )
    return stat.select(
        "part",
        F.when(
            (F.col("n_current") == 0) | (F.col("n_baseline") == 0), F.lit(float("nan"))
        )
        .otherwise(F.col("ks_stat"))
        .alias("ks_stat"),
        "n_current",
        "n_baseline",
    )


def ks_2samp_pandas(
    current: DataFrame, baseline: DataFrame, field: str = "total"
) -> DataFrame:
    """Small-data reference formulation of ``ks_2samp``: grouped-map
    (applyInPandas) over the union of both samples tagged by source.
    Materializes each partition's full sample in one worker — use the
    windowed ``ks_2samp`` anywhere a partition may not fit in a pandas
    frame; this one exists to parity-pin the windowed plan."""
    cur = current.select("part", F.col(field).alias("_v")).withColumn("_src", F.lit("c"))
    base = baseline.select("part", F.col(field).alias("_v")).withColumn("_src", F.lit("b"))
    both = cur.unionByName(base).where(F.col("_v").isNotNull())

    def _ks(pdf: pd.DataFrame) -> pd.DataFrame:
        part = pdf["part"].iloc[0]
        c = np.sort(pdf.loc[pdf["_src"] == "c", "_v"].to_numpy(dtype=float))
        b = np.sort(pdf.loc[pdf["_src"] == "b", "_v"].to_numpy(dtype=float))
        if len(c) == 0 or len(b) == 0:
            return pd.DataFrame(
                [{"part": part, "ks_stat": float("nan"), "n_current": len(c), "n_baseline": len(b)}]
            )
        grid = np.concatenate([c, b])
        cdf_c = np.searchsorted(c, grid, side="right") / len(c)
        cdf_b = np.searchsorted(b, grid, side="right") / len(b)
        stat = float(np.abs(cdf_c - cdf_b).max())
        return pd.DataFrame(
            [{"part": part, "ks_stat": stat, "n_current": len(c), "n_baseline": len(b)}]
        )

    return both.groupBy("part").applyInPandas(_ks, KS_SCHEMA)
