"""Referential constraints against the media registry (SURVEY.md J3/S7).

The reference checks each invoice's remit-account hash against
``vendor_remit_accounts``: an unknown hash, or one whose
``last_seen − first_seen ≤ 1 minute``, flags BANK_CHANGE
(app/anomaly.py:45-70). Generalized: every ``media_ref`` in a document's
spans must resolve to a registered ``media_key``.

Plan shape: the registry is a skinny dim keyed by media_key — broadcast it
(reference analog: the per-request point lookup). The engine checks the
*primary* media key per doc (the anomaly-path semantics) and separately
every span-level ref (the full referential constraint) via explode +
broadcast left join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

FRESH_WINDOW_SEC = 60  # app/anomaly.py:64: (last_seen - first_seen) <= 1 minute


def bank_change_flags(docs: DataFrame, media_registry: DataFrame) -> DataFrame:
    """Per-doc bank_change flag, exact reference semantics
    (app/anomaly.py:45-68): no media key ⇒ False; key missing from the
    registry ⇒ True; key present with first/last seen within a minute
    ⇒ True (fresh key); else False.

    The fresh-key test is byte-faithful to app/anomaly.py:64,
    ``(last_seen - first_seen) <= timedelta(minutes=1)``: a key observed
    only once stays fresh until a later observation advances last_seen
    (in the reference via its per-request upsert, here via the registry
    stream's ``sink_registry``). Intentional parity."""
    reg = media_registry.select(
        F.col("media_key").alias("_reg_key"), "first_seen", "last_seen"
    )
    joined = docs.join(broadcast(reg), docs["media_key"] == reg["_reg_key"], "left")
    fresh = (
        F.col("first_seen").isNotNull()
        & F.col("last_seen").isNotNull()
        & (F.unix_timestamp("last_seen") - F.unix_timestamp("first_seen") <= FRESH_WINDOW_SEC)
    )
    flag = (
        F.when(F.col("media_key").isNull(), F.lit(False))
        .when(F.col("_reg_key").isNull(), F.lit(True))  # unregistered ⇒ new account
        .otherwise(fresh)
    )
    # one projection (attach flag + drop registry cols) instead of a
    # withColumn + drop chain — two fewer plan re-analyses per run
    keep = [c for c in docs.columns]
    return joined.select(*keep, flag.alias("bank_change"))


def dangling_refs(docs: DataFrame, media_registry: DataFrame) -> DataFrame:
    """Span-level referential violations: every non-null media_ref that
    does not resolve. Explode + broadcast anti join (J3).

    Output: part, doc_id, media_ref, span_canon.
    """
    refs = docs.select(
        "part", "doc_id", "span_canon", F.explode("media_refs").alias("media_ref")
    )
    reg = media_registry.select(F.col("media_key"))
    return refs.join(
        broadcast(reg), refs["media_ref"] == reg["media_key"], "left_anti"
    )

