"""Blocking self-join for candidate retrieval (SURVEY.md §2.3 J1/J2).

The reference retrieves same-vendor candidates with one SQL OR of four
blocking predicates capped at 200 (app/retrieval.py:12-48; BR-001/002/004
requirements.md:89-99). An OR-join degenerates to a nested loop in any
engine, so the Spark plan decomposes it — but not as four separate
shuffles: each document *explodes* into its (≤4) blocking keys and the
self-join runs once on ``(part, block_key)``. One shuffle, all blocks.

Skew story (the part Catalyst doesn't hand us, SURVEY.md §4):
- a block key shared by K docs yields K² join rows. ``max_key_fanout``
  drops keys hotter than a bound *before* the join (the scalable analog of
  the reference's LIMIT-200 retrieval stop; a key shared by 10⁵ docs is
  useless evidence anyway — every doc would pair with every other).
- the deterministic per-doc cap (block-priority, then doc id;
  architecture.md:190-195) bounds downstream Hungarian work to
  ``cap`` pairs/doc exactly like BR-004.
- AQE skew-join splitting remains on as the runtime backstop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exprcache import cached_exprs
from .balance import guard_hot_keys

DEFAULT_CAP = 200  # BR-004, app/retrieval.py:12

# block priorities: lower = stronger evidence, drives the deterministic cap
BLOCK_PRIORITY = {"N": 1, "M": 2, "P": 3, "T": 4}


def block_keys(docs: DataFrame) -> DataFrame:
    """Explode each doc into its blocking keys.

    Keys (app/retrieval.py:22-29):
      T|round(total,2)|month  — amount+month block
      P|po                    — equal non-null purchase-order key
      N|invnum_norm           — equal normalized doc number
      M|media_key             — equal non-null media/account key
    """
    def _key_cols():
        total_r = F.round(F.col("total"), 2).cast("string")
        month = F.date_format(F.date_trunc("month", F.col("date")), "yyyy-MM")
        keys = F.array(
            F.when(
                F.col("total").isNotNull() & F.col("date").isNotNull(),
                F.concat_ws("|", F.lit("T"), total_r, month),
            ),
            F.when(
                F.col("po").isNotNull() & (F.col("po") != ""), F.concat(F.lit("P|"), F.col("po"))
            ),
            F.when(
                F.col("invnum_norm").isNotNull(), F.concat(F.lit("N|"), F.col("invnum_norm"))
            ),
            F.when(
                F.col("media_key").isNotNull(), F.concat(F.lit("M|"), F.col("media_key"))
            ),
        )
        return [
            F.col("part"),
            F.col("doc_id"),
            F.explode(F.filter(keys, lambda k: k.isNotNull())).alias("bkey"),
        ]

    return docs.select(*cached_exprs(("blocking.keys",), _key_cols))


def candidate_pairs(
    docs: DataFrame, cap: int = DEFAULT_CAP, max_key_fanout: int | None = 2000
) -> DataFrame:
    """Directed candidate pairs (a_doc_id, b_doc_id) within a partition.

    Directed because in batch mode every document plays the reference's
    "incoming invoice" role against all others (scripts/backfill_score.py).
    Output: part, a_doc_id, b_doc_id, block_priority; ≤ ``cap`` rows per
    a_doc_id, deterministically chosen (priority, then b_doc_id).
    """
    # TWO exchanges carry the whole block phase (was three):
    # 1. (part, bkey): the hot-key guard is a window count riding that
    #    shuffle (WindowExec sorts + spills, so a degenerate key never
    #    materializes in memory), the per-key id array (≤ max_key_fanout
    #    by the guard) rides the same partitioning, and the directed pair
    #    explosion is JVM-side.
    # 2. (a_doc_id): ONE explicit repartition whose partitioning is then
    #    reused by BOTH the duplicate-pair groupBy (a_doc_id is a subset
    #    of its grouping key, so ClusteredDistribution is satisfied) and
    #    the cap window — the old plan shuffled the pre-dedup pair rows
    #    on the full (part, a, b) key and the deduped rows AGAIN on
    #    a_doc_id (measured at sf0.1/local[32]: 5.3 s -> 1.5 s; the
    #    explicit numPartitions also pins the width to the session's
    #    defaultParallelism instead of spark.sql.shuffle.partitions,
    #    scale-adaptive on a cluster where defaultParallelism tracks
    #    executor count).
    n_part = docs.sparkSession.sparkContext.defaultParallelism
    # explicit repartition: the guard window and the collect_list groupBy
    # ride ONE exchange pinned to defaultParallelism. Map-side partial
    # aggregation is no loss here — partial collect_list only batches
    # lists, it never reduces the bytes crossing the exchange — so the
    # raw key rows shuffle the same volume at any scale.
    keys = guard_hot_keys(
        block_keys(docs).repartition(n_part, "part", "bkey"),
        ["part", "bkey"], max_key_fanout,
    )
    grouped = keys.groupBy("part", "bkey").agg(
        cached_exprs(("blocking.collect",), lambda: F.collect_list("doc_id").alias("_ids"))
    )
    pairs = (
        grouped.select(*cached_exprs(("blocking.explode_a",), lambda: [
            F.col("part"),
            F.substring("bkey", 1, 1).alias("_block"),
            F.explode("_ids").alias("a_doc_id"),
            F.col("_ids"),
        ]))
        .select(*cached_exprs(("blocking.explode_b",), lambda: [
            F.col("part"), F.col("_block"), F.col("a_doc_id"),
            F.explode("_ids").alias("b_doc_id"),
        ]))
        .where(F.col("a_doc_id") != F.col("b_doc_id"))
    )
    deduped = pairs.repartition(n_part, "a_doc_id").groupBy(
        "part", "a_doc_id", "b_doc_id"
    ).agg(
        cached_exprs(("blocking.prio",), lambda: F.min(
            # map block letter -> priority, keep strongest
            F.element_at(
                F.create_map(
                    *[x for k, v in BLOCK_PRIORITY.items() for x in (F.lit(k), F.lit(v))]
                ),
                F.col("_block"),
            )
        ).alias("block_priority"))
    )
    rn = cached_exprs(("blocking.rank",), lambda: F.row_number().over(
        Window.partitionBy("a_doc_id").orderBy("block_priority", "b_doc_id")
    ))
    return (
        deduped.withColumn("_rn", rn)
        .where(F.col("_rn") <= cap)
        .drop("_rn")
    )


def training_pairs(docs: DataFrame) -> DataFrame:
    """Unordered within-partition pairs (a < b) for model training
    (scripts/train_duplicate.py:74-79 itertools.combinations ≡ self-join
    with a theta filter; blocked first at scale per SURVEY.md J2), at
    most ``DEFAULT_CAP`` per doc."""
    pairs = candidate_pairs(docs)
    return pairs.where(F.col("a_doc_id") < F.col("b_doc_id"))
