"""Deterministic sampling operators for training-data pipelines.

A 100 TB corpus pipeline constantly needs *reproducible* samples: an eval
slice per language, a labeling batch per vendor, a debug subset that is
the same on every engine and every run. ``rand()`` breaks all of that
(per-task seeds change with partitioning), so both operators here key off
``md5(doc_id)`` — a uniform, engine-reproducible order that DuckDB, Spark
and any SQL engine compute identically (the same idiom as the IVF coarse
quantizer, operators/similarity.py).

Reference analog: the sieve trains on a per-vendor extract of recent
invoices (scripts/train_model.py:31-44); at corpus scale that extract must
be a bounded deterministic sample, not ORDER BY created_at LIMIT k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def stratified_sample(df: DataFrame, group_col: str, k: int) -> DataFrame:
    """Exactly ``min(k, group size)`` rows per group, chosen by md5 rank.

    Plan: one shuffle on ``group_col``; the rank predicate is a
    ``row_number() <= k`` filter, which Catalyst rewrites to
    WindowGroupLimit (Spark 3.5+) — each map task keeps only its local
    top-k before the exchange, so the shuffle carries O(groups * k) rows,
    not the corpus. The md5 order is uniform in the id (so the sample is
    unbiased w.r.t. any data column) and reproducible across engines,
    runs, and partitionings; ``doc_id`` breaks md5 ties so the output is
    total-ordered even under (astronomically unlikely) digest collisions.
    """
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .drop("_rk")
    )


def hash_fraction_sample(df: DataFrame, fraction_pct: int) -> DataFrame:
    """Keep ~``fraction_pct``% of rows, deterministically by ``doc_id``,
    with NO shuffle.

    The predicate is a pure column expression (md5 hex prefix compared to
    a threshold), so it pushes into the scan and costs nothing beyond the
    read — the right shape for carving a corpus-scale debug slice. Every
    engine hashing the same ids keeps the same rows. ``fraction_pct`` is
    integer percent: the first two hex chars of md5 are uniform over 256
    buckets, so the kept fraction is ``floor(256 * pct / 100) / 256``
    (exact, documented, reproducible) — callers needing finer grain can
    extend the prefix. The comparison is LEXICOGRAPHIC on the two
    lowercase hex chars, which coincides with numeric order ('0'..'9' <
    'a'..'f'), so no engine-specific base conversion is involved.
    """
    if not 0 < fraction_pct <= 100:
        raise ValueError("fraction_pct must be in (0, 100]")
    buckets = (256 * fraction_pct) // 100  # buckets kept out of 256
    if buckets >= 256:
        return df
    threshold = format(buckets, "02x")
    prefix = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return df.where(prefix < F.lit(threshold))
