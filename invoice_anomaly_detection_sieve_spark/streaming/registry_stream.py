"""Optional streaming mode: media-registry maintenance + fresh-key alerts.

The reference has no streaming code (SURVEY.md §2.9 — Kafka is a compose
placeholder, README.md:148); its one temporal behavior is the remit
registry's first_seen/last_seen upsert (app/main.py:169-185) and the
"brand-new account" flag (app/anomaly.py:63-68, RR-004 requirements.md:160).
In streaming form those are:

- ``registry_updates``: watermarked min/max aggregation per media_key —
  the Structured Streaming analog of the S7 MERGE (sink it with
  foreachBatch → catalog.merge_upsert for exactly-once upserts),
- ``first_seen_alerts``: ``dropDuplicatesWithinWatermark`` keyed on
  media_key — each key's first observation inside the watermark window,
  i.e. the BANK_CHANGE trigger event stream.

Both operators are stateful; state is partitioned by media_key, so scale
is governed by distinct-key cardinality, not event volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# event-time lateness both stateful operators tolerate
_WATERMARK = "1 hour"


def observations_from_documents(stream: DataFrame) -> DataFrame:
    """Streaming documents (doc_id, spans, event_ts) → (media_key, ts)
    observation events, one per non-null media_ref."""
    refs = F.filter(
        F.transform(F.col("spans"), lambda s: s["media_ref"]), lambda r: r.isNotNull()
    )
    return stream.select(F.explode(refs).alias("media_key"), F.col("event_ts").alias("ts"))


def registry_updates(observations: DataFrame) -> DataFrame:
    """first_seen/last_seen per media_key (update-mode aggregation)."""
    return (
        observations.withWatermark("ts", _WATERMARK)
        .groupBy("media_key")
        .agg(F.min("ts").alias("first_seen"), F.max("ts").alias("last_seen"))
    )


def first_seen_alerts(observations: DataFrame) -> DataFrame:
    """First observation of each media_key within the watermark window —
    the streaming BANK_CHANGE/new-account event (RR-004)."""
    return (
        observations.withWatermark("ts", _WATERMARK)
        .dropDuplicatesWithinWatermark(["media_key"])
        .select("media_key", F.col("ts").alias("first_seen"))
    )


def sink_registry(
    updates: DataFrame,
    catalog,
    checkpoint_dir: str,
    table: str = "media_registry",
    buckets: int = 64,
):
    """foreachBatch sink merging each micro-batch into the catalog —
    idempotent under retries because merge_upsert replaces same-key rows
    (the Iceberg-MERGE exactly-once pattern). A matched key widens its
    stored [first_seen, last_seen] (app/main.py:169-185).

    The registry is laid out in ``buckets`` key-hash buckets, so a
    micro-batch reads and rewrites only the buckets it touches — per batch
    the cost is O(touched buckets), not O(registry), the property that
    keeps a continuously-maintained registry viable at 10^12-doc scale.
    """

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merged = batch_df.groupBy("media_key").agg(
            F.min("first_seen").alias("first_seen"), F.max("last_seen").alias("last_seen")
        )
        catalog.merge_upsert(
            table, merged, ["media_key"], buckets=buckets,
            on_match={"first_seen": F.least, "last_seen": F.greatest},
        )

    return (
        updates.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_merge)
    )
