"""Input-parallelism and hot-key guards, and the guarded bucket-pair
generator every near-duplicate operator shares.

A small parquet input is one row group ⇒ one scan task, and Spark cannot
split a single row group across tasks. Any operator whose first stage
amplifies work 100-1000× per input row (shingling explodes a document
into hundreds of shingles × K hash projections) then runs single-threaded
up to its first exchange, no matter how many cores the cluster has — AQE
only rebalances *after* a shuffle, never the leaf scan.

The guard below is a no-op at corpus scale: a 100 TB table scans as
~10⁵-10⁶ splits, far above any cluster's core count. It only fires when
the plan's leaf partitioning is below the session's default parallelism —
which bounds the rebalanced data to (cores × maxPartitionBytes), a few
GB shuffled once to unlock full-width execution of a stage that does
orders of magnitude more work than the shuffle moves.

``bucket_pairs`` is the one candidate generator behind MinHash LSH,
SimHash and embedding LSH: rows explode into band buckets, hot buckets
are dropped, and each bucket's members pair once.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Ceiling for the UNGUARDED (max_bucket=None) exact-recall paths: a
# degenerate bucket holds its full row array in ONE aggregation buffer and
# emits O(K²) pairs from one task — fine on the oracle/verify corpora the
# unguarded mode exists for, an OOM at corpus scale. Past this many rows in
# a single bucket (~tens of MB of buffer, ~10¹² exploded pairs) the task
# fails LOUDLY with the remedy instead of dying in the explode.
UNGUARDED_BUCKET_CEIL = 1_000_000


# logical-plan nodes that imply an exchange somewhere in the plan: the
# under-partitioned-LEAF-SCAN problem this guard exists for cannot occur
# past a shuffle (AQE rebalances post-shuffle stages), and probing
# df.rdd there would EXECUTE the upstream stages under AQE just to count
# partitions — which the real action then recomputes. A NARROW
# Repartition (coalesce: "Repartition N, false") is exempt — it is free
# to probe and is itself an under-parallelism the guard should fix.
_EXCHANGE_NODES = (
    "Aggregate", "Join", "Window", "RepartitionByExpression",
    "Sort", "Deduplicate", "GlobalLimit",
)
# node names are matched ANCHORED at the start of a plan line (after the
# tree-drawing prefix), not by raw substring: a user column named e.g.
# "SortKey" appearing inside a Project's expression list must not read as
# an exchange and silently disable the rebalance
_EXCHANGE_LINE = re.compile(
    r"^[+:\-\s'*]*(?:" + "|".join(_EXCHANGE_NODES) + r")\b", re.MULTILINE
)
_SHUFFLE_REPARTITION = re.compile(r"^[+:\-\s'*]*Repartition \d+, true", re.MULTILINE)


def guard_hot_keys(df: DataFrame, keys: list[str], max_count: int | None) -> DataFrame:
    """Drop rows whose key group exceeds ``max_count`` — the shared
    hot-key guard for pair-generating operators (a key shared by K rows
    yields K² pairs; a degenerate key is useless evidence anyway).

    One window count riding the SAME (keys) shuffle the caller's next
    groupBy uses — WindowExec sorts + spills, so a degenerate key never
    materializes in memory. ``max_count=None`` is a no-op (exact-recall
    oracle paths)."""
    if max_count is None:
        return df
    return (
        df.withColumn("_kc", F.count(F.lit(1)).over(Window.partitionBy(*keys)))
        .where(F.col("_kc") <= max_count)
        .drop("_kc")
    )


def ensure_min_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin rebalance ``df`` iff it is a shuffle-free (scan-shaped)
    plan with fewer partitions than the session's default parallelism.
    Plans that already contain an exchange are returned unchanged — see
    _EXCHANGE_NODES."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        # fail CLOSED: without the plan text we cannot prove the plan is
        # scan-shaped, and probing df.rdd below a shuffle EXECUTES the
        # upstream stages under AQE — the exact hazard this check avoids.
        # Skipping the rebalance is only ever a perf miss, never wrong.
        return df
    if _EXCHANGE_LINE.search(plan) or _SHUFFLE_REPARTITION.search(plan):
        return df
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def bit_bands(sig: Column, width: int, bands: int) -> Column:
    """Bucket keys of a bit signature: one per ``width``-bit band, the
    band's bits tagged with its index (``"b|bits"``), so two rows share a
    key iff they agree on that whole band."""
    mask = F.lit((1 << width) - 1)
    return F.array(*[
        F.concat(
            F.lit(f"{b}|"),
            F.shiftrightunsigned(sig, b * width).bitwiseAND(mask).cast("string"),
        )
        for b in range(bands)
    ])


def _ceil_unguarded(arr: Column, op: str) -> Column:
    return F.when(
        F.size(arr) > UNGUARDED_BUCKET_CEIL,
        F.raise_error(
            F.concat(
                F.lit(f"{op}: a bucket holds "), F.size(arr).cast("string"),
                F.lit(f" ids (> unguarded ceiling {UNGUARDED_BUCKET_CEIL}); "
                      "set max_bucket to bound degenerate buckets"),
            )
        ),
    ).otherwise(arr)


def bucket_pairs(
    rows: DataFrame,
    bucket: Column,
    id_col: str,
    payload: tuple[str, ...] = (),
    *,
    max_bucket: int | None,
    op: str,
) -> DataFrame:
    """Every pair of rows that share a bucket, once per shared bucket.

    ``bucket`` is the array of a row's bucket keys. Plan: explode → ONE
    exchange on the bucket, pinned to the session's defaultParallelism
    (not spark.sql.shuffle.partitions) → hot-bucket guard (a window count
    riding that exchange; ``max_bucket=None`` keeps exact recall and fails
    loudly past ``UNGUARDED_BUCKET_CEIL``) → per-bucket sorted row array
    on the same partitioning → i<j pair explosion JVM-side. The rows'
    upstream pipeline runs exactly ONCE: a bucket self-join would
    recompute it for both sides (AQE does not reuse the exchange) and
    concentrate a hot bucket's O(K²) pairs in one task just the same.

    Output: a_id < b_id (the array is sorted, and the strict filter drops
    the self-pair a row listed twice in one bucket would emit), plus
    ``a_<c>``/``b_<c>`` for each ``payload`` column, repartitioned on
    (a_id, b_id) so the caller's count or dedupe rides that exchange. A
    pair repeats at most once per shared bucket, so forgoing map-side
    partial aggregation costs a bounded factor.
    """
    n_part = rows.sparkSession.sparkContext.defaultParallelism
    keyed = guard_hot_keys(
        rows.select(id_col, *payload, F.explode(bucket).alias("_bucket"))
        .repartition(n_part, "_bucket"),
        ["_bucket"], max_bucket,
    )
    # bare ids when nothing rides along: a one-field struct per element
    # costs sort and explode work for nothing
    elem = F.struct(id_col, *payload) if payload else F.col(id_col)
    grouped = keyed.groupBy("_bucket").agg(F.array_sort(F.collect_list(elem)).alias("_rows"))
    if max_bucket is None:
        grouped = grouped.select(_ceil_unguarded(F.col("_rows"), op).alias("_rows"))
    exploded = grouped.select(F.posexplode("_rows").alias("_i", "_a"), "_rows").select(
        "_a", F.explode(F.slice("_rows", F.col("_i") + 2, F.size("_rows"))).alias("_b")
    )
    if payload:
        cols = [F.col(f"_{s}")[c].alias(f"{s}_{c}") for s in "ab" for c in payload]
        ids = [F.col("_a")[id_col].alias("a_id"), F.col("_b")[id_col].alias("b_id")]
    else:
        cols, ids = [], [F.col("_a").alias("a_id"), F.col("_b").alias("b_id")]
    return (
        exploded.select(*ids, *cols)
        .where(F.col("a_id") != F.col("b_id"))
        .repartition(n_part, "a_id", "b_id")
    )
