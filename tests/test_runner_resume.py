"""Checkpoint/resume + catalog semantics (SURVEY.md §5 item 4):
a resumed run with the same run_id must skip completed partitions and add
nothing; a partial first run must be completed exactly by the second."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from invoice_anomaly_detection_sieve_spark.datagen import synthesize_documents
from invoice_anomaly_detection_sieve_spark.documents import part_of
from invoice_anomaly_detection_sieve_spark.plans import runner
from invoice_anomaly_detection_sieve_spark.plans import validate as V
from invoice_anomaly_detection_sieve_spark.sources.catalog import ParquetCatalog


@pytest.fixture(scope="module")
def corpus(spark):
    documents, registry, _ = synthesize_documents(spark, n_parts=4, docs_per_part=20, seed=7)
    return documents.cache(), registry.cache()


def test_resume_skips_completed_partitions(spark, tmp_path, corpus):
    documents, registry = corpus
    catalog = ParquetCatalog(spark, str(tmp_path / "wh"))
    cfg = V.ValidationConfig(dq_as_of="2024-04-01")

    # first run: only partitions P0/P1 (simulates a killed run)
    part = part_of(F.col("doc_id"))
    first_half = documents.where(part.isin("P0", "P1"))
    m1 = runner.run(spark, first_half, registry, catalog, run_id="r1", config=cfg)
    assert m1["docs_validated"] > 0

    led1 = catalog.read("ledger")
    assert {r["part"] for r in led1.collect()} == {"P0", "P1"}

    # resumed run over the full table: P0/P1 skipped, P2/P3... completed
    m2 = runner.run(spark, documents, registry, catalog, run_id="r1", config=cfg)
    assert m2["parts_skipped_resume"] == 2
    led2 = catalog.read("ledger").where(F.col("run_id") == "r1")
    parts = sorted(r["part"] for r in led2.select("part").distinct().collect())
    # P0-P3 regular partitions + P4 (row-DQ plants land there regardless of n_parts)
    assert parts == ["P0", "P1", "P2", "P3", "P4"]

    # every partition appears exactly once in the ledger
    counts = led2.groupBy("part").count().collect()
    assert all(r["count"] == 1 for r in counts)

    # verdict rows cover each doc exactly once across the two runs
    verd = catalog.read("doc_verdicts").where(F.col("run_id") == "r1")
    assert verd.groupBy("doc_id").count().where(F.col("count") > 1).count() == 0
    assert verd.count() == documents.count()

    # third run: everything already complete -> no-op
    m3 = runner.run(spark, documents, registry, catalog, run_id="r1", config=cfg)
    assert m3["docs_validated"] == 0
    assert catalog.read("doc_verdicts").where(F.col("run_id") == "r1").count() == documents.count()


def test_failed_sink_leaves_run_unledgered(spark, tmp_path, corpus, monkeypatch):
    """Sinks commit at the same time, but the ledger still commits last: a
    failing sink makes the run raise with no ledger row, and rerunning the
    same run id completes it with each doc read back exactly once."""
    documents, registry = corpus
    catalog = ParquetCatalog(spark, str(tmp_path / "wh"))
    cfg = V.ValidationConfig(dq_as_of="2024-04-01")
    append = ParquetCatalog.append

    def failing_append(self, name, df):
        if name == "violations":
            raise OSError("violations sink down")
        return append(self, name, df)

    monkeypatch.setattr(ParquetCatalog, "append", failing_append)
    with pytest.raises(OSError, match="violations sink down"):
        runner.run(spark, documents, registry, catalog, run_id="rf", config=cfg)
    done = runner.completed_parts(catalog, "rf")
    assert done is None or done.count() == 0

    monkeypatch.setattr(ParquetCatalog, "append", append)
    m = runner.run(spark, documents, registry, catalog, run_id="rf", config=cfg)
    n = documents.count()
    assert m["docs_validated"] == n and m["parts_skipped_resume"] == 0
    verdicts = runner.read_run_verdicts(catalog, "rf").collect()
    ids = [r["doc_id"] for r in verdicts]
    assert len(ids) == len(set(ids)) == n
    # one violation row per (doc, reason code) of the exactly-once verdicts
    n_reasons = sum(len(r["reason_codes"]) for r in verdicts)
    assert runner.read_run_violations(catalog, "rf").count() == n_reasons > 0
    assert runner.completed_parts(catalog, "rf").count() > 0


def test_incremental_validation_across_runs(spark, tmp_path, corpus):
    """Round-3 VERDICT task 4: day-two incremental validation — append
    docs after a completed run; the next incremental run validates ONLY
    the new docs, a third is a no-op, and the outputs union to the full
    table's verdicts."""
    documents, registry = corpus
    catalog = ParquetCatalog(spark, str(tmp_path / "whi"))
    cfg = V.ValidationConfig(dq_as_of="2024-04-01")

    part = part_of(F.col("doc_id"))
    batch1 = documents.where(part.isin("P0", "P1"))
    batch2 = documents.where(~part.isin("P0", "P1"))
    catalog.append("documents", batch1)

    m1 = runner.run_incremental(spark, catalog, "documents", registry, config=cfg)
    assert not m1["no_op"]
    assert m1["docs_validated"] == batch1.count()
    assert m1["snapshot_since"] == 0 and m1["snapshot_consumed"] >= 1

    # day two: new docs land
    catalog.append("documents", batch2)
    m2 = runner.run_incremental(spark, catalog, "documents", registry, config=cfg)
    assert not m2["no_op"]
    assert m2["docs_validated"] == batch2.count()  # ONLY the new docs
    assert m2["snapshot_since"] == m1["snapshot_consumed"]

    # ledger records both runs with their consumed snapshot ids
    led = catalog.read("ledger")
    consumed = {r["run_id"]: r["consumed_snapshot_id"]
                for r in led.select("run_id", "consumed_snapshot_id").distinct().collect()}
    assert consumed[m1["run_id"]] == m1["snapshot_consumed"]
    assert consumed[m2["run_id"]] == m2["snapshot_consumed"]

    # nothing new -> no-op: nothing scanned, appended, or ledgered
    n_verd = catalog.read("doc_verdicts").count()
    m3 = runner.run_incremental(spark, catalog, "documents", registry, config=cfg)
    assert m3["no_op"] and m3["docs_validated"] == 0 and m3["run_id"] is None
    assert catalog.read("doc_verdicts").count() == n_verd

    # the two incremental runs union to the full table's verdict set
    verd = catalog.read("doc_verdicts")
    assert verd.select("doc_id").distinct().count() == documents.count()


def test_catalog_merge_and_incremental_read(spark, tmp_path):
    cat = ParquetCatalog(spark, str(tmp_path / "cat"))
    df1 = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    snap1 = cat.append("t", df1)
    df2 = spark.createDataFrame([("c", 3)], "k string, v int")
    cat.append("t", df2)

    assert cat.read("t").count() == 3
    inc = cat.read_since("t", snap1)
    assert [r["k"] for r in inc.collect()] == ["c"]

    # merge: replace key b, insert d
    src = spark.createDataFrame([("b", 20), ("d", 4)], "k string, v int")
    cat.merge_upsert("t", src, ["k"])
    got = {r["k"]: r["v"] for r in cat.read("t").collect()}
    assert got == {"a": 1, "b": 20, "c": 3, "d": 4}


def test_catalog_read_as_of_and_until_pin_the_snapshot(spark, tmp_path):
    """An incremental scan must be pinned to the snapshot its ledger will
    record: snapshots committed after the pin are left for the next run."""
    cat = ParquetCatalog(spark, str(tmp_path / "pin"))
    s1 = cat.append("t", spark.createDataFrame([("a",)], "k string"))
    s2 = cat.append("t", spark.createDataFrame([("b",)], "k string"))
    s3 = cat.append("t", spark.createDataFrame([("c",)], "k string"))

    # table state as of s2 excludes the s3 append
    assert {r["k"] for r in cat.read_as_of("t", s2).collect()} == {"a", "b"}
    assert {r["k"] for r in cat.read_as_of("t", s3).collect()} == {"a", "b", "c"}
    # incremental read bounded above
    assert {r["k"] for r in cat.read_since("t", s1, until=s2).collect()} == {"b"}
    assert {r["k"] for r in cat.read_since("t", s1).collect()} == {"b", "c"}

    # read_as_of after a full rewrite: the rewrite resets the base
    cat.overwrite("t", spark.createDataFrame([("z",)], "k string"))
    s5 = cat.append("t", spark.createDataFrame([("y",)], "k string"))
    assert {r["k"] for r in cat.read_as_of("t", s5).collect()} == {"z", "y"}


def test_incremental_empty_append_advances_bookmark(spark, tmp_path, corpus):
    """An empty append still advances the consumed-snapshot bookmark:
    without the zero-doc ledger row, every later incremental run would
    re-read the same empty increment forever."""
    documents, registry = corpus
    catalog = ParquetCatalog(spark, str(tmp_path / "whe"))
    cfg = V.ValidationConfig(dq_as_of="2024-04-01")

    catalog.append("documents", documents.where(part_of(F.col("doc_id")) == "P0"))
    m1 = runner.run_incremental(spark, catalog, "documents", registry, config=cfg)
    assert not m1["no_op"] and m1["docs_validated"] > 0

    # empty append: snapshot id advances, zero rows
    catalog.append("documents", documents.limit(0))
    m2 = runner.run_incremental(spark, catalog, "documents", registry, config=cfg)
    assert not m2["no_op"] and m2["docs_validated"] == 0
    assert m2["snapshot_consumed"] > m1["snapshot_consumed"]

    # the bookmark advanced: the next run is a true no-op
    m3 = runner.run_incremental(spark, catalog, "documents", registry, config=cfg)
    assert m3["no_op"] and m3["snapshot_since"] == m2["snapshot_consumed"]


def test_incremental_since_snapshot_override(spark, tmp_path, corpus):
    """--since-snapshot replays from an explicit snapshot id instead of
    the ledger bookmark (backfill / reprocess-from-here)."""
    documents, registry = corpus
    catalog = ParquetCatalog(spark, str(tmp_path / "whs"))
    cfg = V.ValidationConfig(dq_as_of="2024-04-01")

    part = part_of(F.col("doc_id"))
    b1 = documents.where(part.isin("P0", "P1"))
    b2 = documents.where(~part.isin("P0", "P1"))
    s1 = catalog.append("documents", b1)
    catalog.append("documents", b2)

    # bookmarked run consumes everything
    m1 = runner.run_incremental(spark, catalog, "documents", registry, config=cfg)
    assert m1["docs_validated"] == documents.count()

    # explicit replay from s1: only the second batch, despite the bookmark
    m2 = runner.run_incremental(
        spark, catalog, "documents", registry, config=cfg, since_snapshot=s1
    )
    assert not m2["no_op"]
    assert m2["docs_validated"] == b2.count()
    assert m2["snapshot_since"] == s1


def test_catalog_survives_orphan_tmp_manifest(spark, tmp_path):
    """A crash between writing '.N.json.tmp' and the rename must not
    brick the table: snapshots() skips non-committed manifests."""
    import os

    cat = ParquetCatalog(spark, str(tmp_path / "orph"))
    cat.append("t", spark.createDataFrame([("a",)], "k string"))
    snap_dir = cat._snap_dir("t")
    open(os.path.join(snap_dir, ".2.json.tmp"), "w").write("{")
    assert cat.latest_snapshot_id("t") == 1
    s2 = cat.append("t", spark.createDataFrame([("b",)], "k string"))
    assert s2 == 2 and cat.read("t").count() == 2


def test_overwrite_gc_keeps_one_backup_generation(spark, tmp_path):
    """Repeated merges must not keep a full table copy per run: only the
    newest old-* backup survives an overwrite."""
    import os

    cat = ParquetCatalog(spark, str(tmp_path / "gc"))
    df = lambda k: spark.createDataFrame([(k, 1)], "k string, v int")
    cat.append("t", df("a"))
    for key in ("b", "c", "d"):
        cat.merge_upsert("t", df(key), ["k"])
    old_dirs = [e for e in os.listdir(cat._table_dir("t")) if e.startswith("old-")]
    assert len(old_dirs) <= 1
    got = {r["k"] for r in cat.read("t").collect()}
    assert got == {"a", "b", "c", "d"}


def test_read_since_across_rewrite_falls_back_to_full_replay(spark, tmp_path):
    """An incremental range is only well-defined over append snapshots: a
    merge/overwrite inside (since, until] introduces rows no append carries
    and GCs files earlier appends reference. Crossing one must replay the
    full as-of-until state, never skip rows or read deleted files."""
    import pytest as _pytest

    cat = ParquetCatalog(spark, str(tmp_path / "rw"))
    s1 = cat.append("t", spark.createDataFrame([("a", 1)], "k string, v int"))
    s2 = cat.append("t", spark.createDataFrame([("b", 2)], "k string, v int"))
    # append-only range: just the increment (pre-rewrite behavior intact)
    assert {r["k"] for r in cat.read_since("t", s1, until=s2).collect()} == {"b"}

    # rewrite: update b, insert m (merge = overwrite op in the snapshot log)
    cat.merge_upsert("t", spark.createDataFrame([("b", 20), ("m", 9)],
                                                "k string, v int"), ["k"])
    s4 = cat.append("t", spark.createDataFrame([("c", 3)], "k string, v int"))

    got = {r["k"]: r["v"] for r in cat.read_since("t", s1, until=s4).collect()}
    # full replay as of s4: the merged rows are visible, nothing references
    # the pre-merge files the swap GC'd
    assert got == {"a": 1, "b": 20, "m": 9, "c": 3}
    # an append-only range the later rewrite GC'd: loud error naming the
    # remedy, never a PATH_NOT_FOUND mid-scan (and never silent [] rows)
    with _pytest.raises(ValueError, match="garbage-collected"):
        cat.read_since("t", s1, until=s2)


def test_warm_run_compiles_no_codegen_class(spark, tmp_path, corpus):
    """Spark's generated-code cache holds a run's whole plan set and no
    per-run value is inlined into generated code, so a second run over
    the same inputs in the same JVM compiles nothing. Fails with the
    default 100-entry cache (a run generates more classes than that, so
    LRU order evicts them all), with the ledger's wall time as an
    ``F.lit`` double in a projection (a new class every run), and, in some
    runs only, with AQE's timing-dependent codegen stage id in the class
    name (the same stage code under another id is another cache key).
    The warm run stamps its cases with a new time, which reaches the plan
    as data, not as a literal."""
    from invoice_anomaly_detection_sieve_spark.session import CODEGEN_CACHE_ENTRIES

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"
    documents, registry = corpus
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    catalogs = [ParquetCatalog(spark, str(tmp_path / f"wh{i}")) for i in range(2)]
    runner.run(spark, documents, registry, catalogs[0], run_id="cold")
    before = compiles.getCount()
    runner.run(spark, documents, registry, catalogs[1], run_id="warm",
               run_ts="2030-06-01 12:00:00")
    warm_compiles = compiles.getCount() - before
    assert warm_compiles == 0, f"the warm run compiled {warm_compiles} classes"
    # each run stamps its cases with its own time
    stamps = [
        {r[0] for r in c.read("cases")
         .select(F.date_format("created_at", "yyyy-MM-dd HH:mm:ss")).collect()}
        for c in catalogs
    ]
    assert stamps[1] == {"2030-06-01 12:00:00"}
    assert len(stamps[0]) == 1 and stamps[0] != stamps[1]
    # the wall time still reaches the ledger, one value per run
    walls = [
        {r[0] for r in c.read("ledger").select("run_wall_time_sec").collect()}
        for c in catalogs
    ]
    assert all(len(w) == 1 and next(iter(w)) > 0 for w in walls)
