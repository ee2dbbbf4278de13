"""D4 case routing + W6 review-queue ordering.

Reference semantics: every HOLD/REVIEW decision opens (or refreshes) a case
with a 2-day SLA (``create_or_update_case``, /root/reference/app/case.py:
13-50: INSERT ... ON CONFLICT DO UPDATE SET status, sla_due, updated_at —
``created_at`` survives updates). The review queue sorts by risk_score
descending then SLA aging (UI-001, /root/reference/requirements.md:183).

Divergence (cited): the reference mints ``case_<uuid4>`` ids on the
app-server; a distributed engine needs ids that are deterministic under
retry/resume, so case_id = ``case_`` + sha2(doc_id)[:32]. One case per
document either way (the reference's SELECT-first guarantees that too).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.catalog import ParquetCatalog

CASE_OPEN_DECISIONS = ("HOLD", "REVIEW")  # app/case.py:13
CASES_TABLE = "cases"
SLA_DAYS = 2  # app/case.py:44 timedelta(days=2)
# cases accumulate one row per flagged doc across ALL runs, so the table is
# O(history) — key-bucketed copy-on-write keeps each nightly merge at
# O(touched buckets), not a full rewrite of the accumulated history
CASES_BUCKETS = 64


def open_cases(verdicts: DataFrame, run_ts) -> DataFrame:
    """Case rows for every verdict that needs manual work, stamped with
    ``run_ts`` (a timestamp string in the session time zone)."""
    # the stamp joins as a one-row frame handed over through Arrow (a
    # local relation): as a literal it would be inlined into generated
    # code, and every run with a new stamp would compile new classes. A
    # nested-loop join reads the one row in each task; a broadcast would
    # run one more Spark job per plan that reads the cases.
    stamp = verdicts.sparkSession.createDataFrame(
        pd.DataFrame({"_ts": [str(run_ts)]}), "_ts string"
    ).select(F.to_timestamp("_ts").alias("_ts"))
    ts = F.col("_ts")
    flagged = verdicts.where(F.col("decision").isin(*CASE_OPEN_DECISIONS))
    return flagged.crossJoin(stamp.hint("shuffle_replicate_nl")).select(
        # 32 hex chars = 128 bits: a 12-char (48-bit) id hits birthday
        # collisions at ~17M cases — guaranteed conflation at target scale
        F.concat(F.lit("case_"), F.substring(F.sha2(F.col("doc_id"), 256), 1, 32)).alias(
            "case_id"
        ),
        "part",
        "doc_id",
        F.col("decision"),
        F.col("risk_score"),
        F.lit("OPEN").alias("status"),
        (ts + F.expr(f"INTERVAL {SLA_DAYS} DAYS")).alias("sla_due"),
        ts.alias("created_at"),
        ts.alias("updated_at"),
    )


def route_cases(
    catalog: ParquetCatalog, verdicts: DataFrame, run_ts,
    buckets: int = CASES_BUCKETS,
) -> int:
    """MERGE the run's open cases into the cases table; returns the
    snapshot id of the merge.

    Existing cases keep their original ``created_at`` (the reference's ON
    CONFLICT clause updates only status/sla_due/updated_at); everything
    else is refreshed. Keyed on doc_id — idempotent under re-runs. The
    table is doc_id-bucketed, so a run reads and rewrites only the buckets
    its flagged docs hash into (``ParquetCatalog.merge_upsert``).

    Note on ids: case_id is ``case_`` + sha2(doc_id)[:32] (was [:12]
    before round 4 — 48 bits hits birthday collisions at ~17M cases).
    The merge key is doc_id, so pre-migration OPEN cases keep their row
    (and created_at) but present the new id format on their next re-flag;
    external consumers must track cases by doc_id, which is stable.
    """
    return catalog.merge_upsert(
        CASES_TABLE, open_cases(verdicts, run_ts), ["doc_id"], buckets=buckets,
        on_match={"created_at": lambda new, old: F.coalesce(old, new)},
    )


def review_queue(verdicts: DataFrame, cases: DataFrame | None = None) -> DataFrame:
    """W6/UI-001: the manual-work queue, sorted by risk_score descending
    then SLA aging (earliest due first when cases are supplied), with a
    deterministic doc_id tie-break and an explicit queue_rank.

    The global rank is computed in two stages so NO unbounded
    single-partition window remains (the round-2 ``Window.orderBy`` pulled
    every HOLD/REVIEW row through one task): rows are range-partitioned on
    the sort keys (each task then ranks a contiguous slice of the global
    order), and per-slice offsets — O(#slices) rows — are broadcast back.
    The sort order is strict (doc_id tie-break), so ranks are
    deterministic regardless of where the range sampler cuts boundaries.
    """
    from pyspark.sql import Window

    q = verdicts.where(F.col("decision").isin(*CASE_OPEN_DECISIONS)).select(
        "part", "doc_id", "decision", "risk_score"
    )
    order = [F.desc("risk_score")]
    if cases is not None:
        q = q.join(cases.select("doc_id", "sla_due"), "doc_id", "left")
        order.append(F.asc_nulls_last("sla_due"))
    order.append(F.asc("doc_id"))

    ranked = q.repartitionByRange(*order).withColumn("_pid", F.spark_partition_id())
    w_local = Window.partitionBy("_pid").orderBy(*order)
    local = ranked.withColumn("_lrank", F.row_number().over(w_local))
    counts = local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    # cumulative offsets over the slice counts: a window over ≤ #shuffle
    # partitions rows — bounded, unlike the queue itself
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn("queue_rank", (F.col("_off") + F.col("_lrank")).cast("int"))
        .drop("_pid", "_lrank", "_off")
        .orderBy("queue_rank")
    )
