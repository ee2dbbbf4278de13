"""Streaming registry maintenance (§2.9 optional mode): watermarked
first/last-seen aggregation + first-seen alerts + foreachBatch merge sink,
driven deterministically with a file source and availableNow trigger."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from invoice_anomaly_detection_sieve_spark.sources.catalog import ParquetCatalog
from invoice_anomaly_detection_sieve_spark.streaming import registry_stream as R

OBS_SCHEMA = "media_key string, ts timestamp"


def _write_obs(spark, path, rows):
    spark.createDataFrame(rows, OBS_SCHEMA).coalesce(1).write.mode("append").parquet(path)


def test_registry_stream_merges_into_catalog(spark, tmp_path):
    src = str(tmp_path / "obs")
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    _write_obs(spark, src, [
        ("K1", t0),
        ("K1", t0 + dt.timedelta(hours=2)),
        ("K2", t0 + dt.timedelta(minutes=5)),
    ])

    catalog = ParquetCatalog(spark, str(tmp_path / "wh"))
    stream = spark.readStream.schema(OBS_SCHEMA).parquet(src)
    q = (
        R.sink_registry(R.registry_updates(stream), catalog, str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    reg = {r["media_key"]: r.asDict() for r in catalog.read("media_registry").collect()}
    assert set(reg) == {"K1", "K2"}
    assert reg["K1"]["first_seen"] == t0
    assert reg["K1"]["last_seen"] == t0 + dt.timedelta(hours=2)
    assert reg["K2"]["first_seen"] == reg["K2"]["last_seen"]

    # second batch arrives: K1 extends, K3 appears; merge stays idempotent
    _write_obs(spark, src, [
        ("K1", t0 + dt.timedelta(hours=5)),
        ("K3", t0 + dt.timedelta(hours=1)),
    ])
    q2 = (
        R.sink_registry(R.registry_updates(stream), catalog, str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    reg = {r["media_key"]: r.asDict() for r in catalog.read("media_registry").collect()}
    assert set(reg) == {"K1", "K2", "K3"}
    assert reg["K1"]["first_seen"] == t0
    assert reg["K1"]["last_seen"] == t0 + dt.timedelta(hours=5)


@pytest.mark.parametrize("prior_buckets", [8, None])
def test_registry_sink_migrates_layout_keeping_first_seen(spark, tmp_path, prior_buckets):
    """A registry written with another bucket count, or non-bucketed, is
    read whole on the sink's first merge: a matched key keeps its earliest
    first_seen and the table moves to the sink's layout."""
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    catalog = ParquetCatalog(spark, str(tmp_path / "wh"))
    prior = spark.createDataFrame(
        [(f"K{i}", t0, t0) for i in range(20)],
        "media_key string, first_seen timestamp, last_seen timestamp",
    )
    catalog.merge_upsert("media_registry", prior, ["media_key"], buckets=prior_buckets)

    src = str(tmp_path / "obs")
    later = t0 + dt.timedelta(days=3)
    _write_obs(spark, src, [("K1", later), ("KN", later)])
    stream = spark.readStream.schema(OBS_SCHEMA).parquet(src)
    q = (
        R.sink_registry(R.registry_updates(stream), catalog, str(tmp_path / "ckpt"),
                        buckets=4)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    reg = {r["media_key"]: (r["first_seen"], r["last_seen"])
           for r in catalog.read("media_registry").collect()}
    assert len(reg) == 21
    assert reg["K1"] == (t0, later)  # earliest first_seen kept, last_seen widened
    assert reg["KN"] == (later, later)
    assert reg["K5"] == (t0, t0)
    assert catalog.table_meta("media_registry")["bucket_spec"] == {
        "keys": ["media_key"], "buckets": 4}


def test_first_seen_alerts(spark, tmp_path):
    src = str(tmp_path / "obs2")
    t0 = dt.datetime(2024, 3, 1, 9, 0, 0)
    _write_obs(spark, src, [
        ("A", t0),
        ("A", t0 + dt.timedelta(minutes=10)),
        ("B", t0 + dt.timedelta(minutes=1)),
    ])
    stream = spark.readStream.schema(OBS_SCHEMA).parquet(src)
    alerts = R.first_seen_alerts(stream)
    q = (
        alerts.writeStream.format("memory")
        .queryName("alerts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["media_key"] for r in spark.table("alerts").collect()}
    assert got == {"A", "B"}  # one alert per key, not per observation
    assert spark.table("alerts").count() == 2


def test_observations_from_documents(spark):
    from invoice_anomaly_detection_sieve_spark.schema import DOCUMENTS

    rows = [
        ("D1", [
            {"kind": "media", "text": None, "media_ref": "M1", "offset": 1},
            {"kind": "line", "text": "x", "media_ref": None, "offset": 2},
            {"kind": "pdf", "text": None, "media_ref": "H1", "offset": 3},
        ]),
    ]
    df = spark.createDataFrame(rows, DOCUMENTS).withColumn(
        "event_ts", F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    )
    obs = R.observations_from_documents(df)
    got = sorted(r["media_key"] for r in obs.collect())
    assert got == ["H1", "M1"]


def test_streaming_exact_dedup_state_survives_restart(spark, tmp_path):
    """First-seen dedup via applyInPandasWithState: in-batch dups tagged,
    and the per-hash state (n_seen) round-trips through the checkpoint so
    a second availableNow run continues the count."""
    import datetime as dt

    from invoice_anomaly_detection_sieve_spark.streaming import dedup_stream as D

    src = str(tmp_path / "docs")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id string, text string, ts timestamp"
    t = lambda m: dt.datetime(2025, 1, 1, 0, m)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            D.streaming_exact_dedup(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    b1 = [("d1", "hello", t(0)), ("d2", "world", t(1)), ("d3", "hello", t(2))]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    run_once()
    b2 = [("d4", "hello", t(3)), ("d5", "fresh", t(4))]
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)
    run_once()

    got = {r["doc_id"]: (r["is_first"], r["n_seen"]) for r in spark.read.parquet(out).collect()}
    assert got["d1"] == ("first", 1)
    assert got["d3"] == ("dup", 2)
    assert got["d2"] == ("first", 1)
    assert got["d4"] == ("dup", 3)  # state crossed the restart
    assert got["d5"] == ("first", 1)


def test_windowed_event_rollup(spark, tmp_path):
    import datetime as dt

    from invoice_anomaly_detection_sieve_spark.streaming import dedup_stream as D

    src = str(tmp_path / "events")
    schema = "event_id string, event_type string, value double, ts timestamp"
    t = lambda m: dt.datetime(2025, 1, 1, 0, m)
    rows = [
        ("e1", "click", 1.0, t(1)),
        ("e2", "click", 2.0, t(5)),
        ("e3", "buy", 10.0, t(12)),
        ("e4", "click", 4.0, t(14)),
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        D.windowed_event_rollup(stream)
        .writeStream.format("memory")
        .queryName("rollup")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"].minute, r["event_type"]): (r["n_events"], r["value_sum"])
        for r in spark.sql("select * from rollup").collect()
    }
    assert got[(0, "click")] == (2, 3.0)
    assert got[(10, "buy")] == (1, 10.0)
    assert got[(10, "click")] == (1, 4.0)


def test_streaming_dedup_first_spans_arrow_chunks(spark, tmp_path):
    """One key's micro-batch rows can arrive as several Arrow chunks;
    'first' must go to the globally earliest-ts row even when it sits in
    a later chunk (per-chunk sorting cannot order across chunks)."""
    import datetime as dt

    from invoice_anomaly_detection_sieve_spark.streaming import dedup_stream as D

    src = str(tmp_path / "docs_chunks")
    schema = "doc_id string, text string, ts timestamp"
    t = lambda m: dt.datetime(2025, 2, 1, 0, m)
    # earliest ts (d5) written LAST so with 2-record Arrow chunks it lands
    # in the final chunk; all rows share one content hash
    rows = [("d1", "same", t(5)), ("d2", "same", t(3)), ("d3", "same", t(4)),
            ("d4", "same", t(2)), ("d5", "same", t(1))]
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            D.streaming_exact_dedup(stream)
            .writeStream.format("memory")
            .queryName("chunked_dedup")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_chunks"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    got = {r["doc_id"]: (r["is_first"], r["n_seen"])
           for r in spark.sql("select * from chunked_dedup").collect()}
    assert got["d5"] == ("first", 1)  # globally earliest ts
    assert got["d4"] == ("dup", 2)
    assert got["d2"] == ("dup", 3)
    assert got["d3"] == ("dup", 4)
    assert got["d1"] == ("dup", 5)


def test_streaming_dedup_matches_duckdb_first_arrival(spark, tmp_path):
    """Oracle for streaming_exact_dedup: three availableNow runs over a
    deterministic event table, one arrival batch each, tag every row as
    DuckDB's first-arrival-per-content_hash query does (arrival = batch,
    then ts). Later batches carry earlier timestamps for texts an earlier
    batch already saw, so a ts-only order would disagree."""
    import random

    import duckdb

    from invoice_anomaly_detection_sieve_spark.streaming import dedup_stream as D

    src, out, ckpt = (str(tmp_path / d) for d in ("events", "out", "ckpt"))
    schema = "doc_id string, text string, ts timestamp"
    rng = random.Random(11)
    texts = [f"invoice {k} from vendor {k % 3}" for k in range(9)]
    minutes = rng.sample(range(600), 48)  # unique: no ts tie within a hash
    events = [
        (f"d{i:02d}", rng.choice(texts), dt.datetime(2025, 3, 1) + dt.timedelta(minutes=m), i // 16)
        for i, m in enumerate(minutes)
    ]
    for batch in range(3):
        rows = [e[:3] for e in events if e[3] == batch]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        q = (
            D.streaming_exact_dedup(spark.readStream.schema(schema).parquet(src))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    got = sorted(
        tuple(r) for r in spark.read.parquet(out)
        .select("content_hash", "doc_id", "ts", "is_first", "n_seen").collect()
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE events (doc_id VARCHAR, text VARCHAR, ts TIMESTAMP, batch INT)")
    con.executemany("INSERT INTO events VALUES (?, ?, ?, ?)", events)
    want = sorted(con.execute("""
        SELECT content_hash, doc_id, ts,
               CASE WHEN rn = 1 THEN 'first' ELSE 'dup' END AS is_first,
               rn AS n_seen
        FROM (SELECT sha256(text) AS content_hash, doc_id, ts,
                     row_number() OVER (PARTITION BY sha256(text) ORDER BY batch, ts) AS rn
              FROM events)
    """).fetchall())
    assert len(got) == len(events)
    assert got == want
    # the table does exercise late arrivals: some 'first' row is later
    # than a 'dup' row of the same hash
    first_ts = {h: t for h, _, t, tag, _ in want if tag == "first"}
    assert any(t < first_ts[h] for h, _, t, tag, _ in want if tag == "dup")

