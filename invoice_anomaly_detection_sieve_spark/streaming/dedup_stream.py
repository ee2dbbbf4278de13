"""Streaming deduplication and windowed event rollups.

Streaming forms of the batch training-data operators (operators/dedup.py,
reference analog: the pdf-hash duplicate rule app/rules.py:35-38 — the
batch sieve's exact-dup sieve applied to an unbounded arrival stream):

- ``streaming_exact_dedup``: first-seen filter keyed on content hash via
  ``applyInPandasWithState`` — the custom-stateful-operator surface.
  State per key is one small struct (n_seen) and never expires, so
  scale is governed by distinct-content cardinality and a repeat is a
  'dup' however late it arrives (unlike
  ``dropDuplicatesWithinWatermark``, with an observable dup count).
- ``windowed_event_rollup``: watermarked 10-minute tumbling-window
  aggregation over the events stream — the late-data-tolerant rollup
  (counts + value sum per event_type per window) a monitoring pipeline
  sits on.

Both are expressed on the streaming DataFrame API so Spark's incremental
planner maintains state in the state store (RocksDB on a real cluster),
not in Python memory: the pandas function below sees ONE key's rows per
call and its state object round-trips through the store.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

DEDUP_OUTPUT = StructType(
    [
        StructField("content_hash", StringType()),
        StructField("doc_id", StringType()),
        StructField("ts", TimestampType()),
        StructField("is_first", StringType()),  # 'first' | 'dup'
        StructField("n_seen", LongType()),
    ]
)

# state: how many occurrences of this hash have been seen so far
DEDUP_STATE = StructType([StructField("n_seen", LongType())])


def _dedup_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (n_seen,) = state.get if state.exists else (0,)
    # one key's micro-batch rows can arrive as SEVERAL Arrow chunks in
    # arbitrary order (maxRecordsPerBatch); a per-chunk sort cannot order
    # across chunks, so 'first' could land on a later-ts row. Concatenate
    # before sorting — memory is bounded by one key's rows in one
    # micro-batch, the same bound the output itself already implies.
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
        pdf = pdf.sort_values("ts", kind="stable")
        out = pd.DataFrame(
            {
                "content_hash": key[0],
                "doc_id": pdf["doc_id"].to_numpy(),
                "ts": pdf["ts"].to_numpy(),
                "is_first": [
                    "first" if (n_seen == 0 and i == 0) else "dup"
                    for i in range(len(pdf))
                ],
                "n_seen": n_seen + pd.RangeIndex(1, len(pdf) + 1),
            }
        )
        n_seen += len(pdf)
        yield out
    state.update((n_seen,))


def streaming_exact_dedup(docs: DataFrame) -> DataFrame:
    """Annotate a streaming corpus (doc_id, text, ts) with first/dup per
    content hash of ``text``.

    Emits every row (append mode) tagged ``is_first`` ∈ {'first','dup'}
    and the running occurrence count — filter ``is_first = 'first'`` for
    the dedup'd stream, or aggregate the 'dup' side for duplicate-rate
    monitoring. One shuffle on the content hash; state is one struct per
    distinct hash.
    """
    hashed = docs.select(F.sha2(F.col("text"), 256).alias("content_hash"), "doc_id", "ts")
    return hashed.groupBy("content_hash").applyInPandasWithState(
        _dedup_fn, DEDUP_OUTPUT, DEDUP_STATE, "append", GroupStateTimeout.NoTimeout
    )


def windowed_event_rollup(events: DataFrame) -> DataFrame:
    """Late-tolerant per-type rollup: count + value sum per 10-minute
    tumbling window. The watermark closes a window 5 minutes past the max
    event time; later events are dropped (the documented bound)."""
    return (
        events.withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("value_sum"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )
