"""S12 config-table lookup, D4 case routing, W6 review queue, SimHash
banded recall, runner at-least-once dedupe."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from invoice_anomaly_detection_sieve_spark.plans import cases as C
from invoice_anomaly_detection_sieve_spark.plans import validate as V
from invoice_anomaly_detection_sieve_spark.sources import configs as CFG
from invoice_anomaly_detection_sieve_spark.sources.catalog import ParquetCatalog

CONFIG_ROWS = [
    ("global", "t_hold", "62.5"),                    # bare number
    ("global", "t_review", '{"value": 30}'),         # object form
    ("global", "quoted", '"12.25"'),                 # quoted numeric string
    ("global", "junk", '"not a number"'),            # junk -> default
    ("tenant", "t_hold", "10.0"),                    # wrong scope, ignored
]


@pytest.fixture()
def configs_df(spark):
    return spark.createDataFrame(CONFIG_ROWS, "scope string, key string, value string")


def test_config_values_tolerant_coercion(spark, configs_df):
    vals = CFG.config_values(
        configs_df,
        {"t_hold": 80.0, "t_review": 50.0, "quoted": 1.0, "junk": 7.0, "absent": 3.0},
    )
    assert vals == {
        "t_hold": 62.5,      # bare number read
        "t_review": 30.0,    # {"value": x} read
        "quoted": 12.25,     # quoted string parsed
        "junk": 7.0,         # junk falls back to default
        "absent": 3.0,       # missing key falls back to default
    }


def test_apply_config_table_overrides_thresholds(spark, configs_df):
    cfg = CFG.apply_config_table(V.ValidationConfig(), configs_df)
    assert cfg.hold_threshold == 62.5
    assert cfg.review_threshold == 30.0
    # untouched fields survive dataclasses.replace
    assert cfg.top_k == 3


def _verdicts(spark, rows):
    return spark.createDataFrame(
        rows, "part string, doc_id string, decision string, risk_score double"
    )


def test_route_cases_idempotent_and_preserves_created_at(spark, tmp_path):
    catalog = ParquetCatalog(spark, str(tmp_path / "wh"))
    v1 = _verdicts(spark, [("P1", "d1", "HOLD", 90.0), ("P1", "d2", "REVIEW", 55.0),
                           ("P1", "d3", "PASS", 1.0)])
    C.route_cases(catalog, v1, "2025-01-01 00:00:00")
    first = {r["doc_id"]: r.asDict() for r in catalog.read(C.CASES_TABLE).collect()}
    assert set(first) == {"d1", "d2"}  # PASS opens no case (app/case.py:13)
    assert all(r["status"] == "OPEN" for r in first.values())
    assert str(first["d1"]["sla_due"]).startswith("2025-01-03")  # +2d SLA

    # second run: d1 escalates, d2 unchanged, d4 new
    v2 = _verdicts(spark, [("P1", "d1", "HOLD", 95.0), ("P1", "d2", "REVIEW", 55.0),
                           ("P1", "d4", "HOLD", 88.0)])
    C.route_cases(catalog, v2, "2025-02-01 00:00:00")
    second = {r["doc_id"]: r.asDict() for r in catalog.read(C.CASES_TABLE).collect()}
    assert set(second) == {"d1", "d2", "d4"}  # one row per doc — upsert, not append
    assert second["d1"]["case_id"] == first["d1"]["case_id"]  # deterministic id
    assert str(second["d1"]["created_at"]).startswith("2025-01-01")  # survives update
    assert str(second["d1"]["updated_at"]).startswith("2025-02-01")
    assert str(second["d1"]["sla_due"]).startswith("2025-02-03")  # refreshed SLA
    assert str(second["d4"]["created_at"]).startswith("2025-02-01")

    # replay of the same run is a no-op on row count (resume safety)
    C.route_cases(catalog, v2, "2025-02-01 00:00:00")
    assert catalog.read(C.CASES_TABLE).count() == 3


def test_route_cases_after_a_run_that_routed_none(spark, tmp_path):
    """A run that opens no case leaves cases/data/ with only _SUCCESS;
    the next run's bucketed create must replace it, not fail on renaming
    onto a non-empty directory."""
    catalog = ParquetCatalog(spark, str(tmp_path / "wh"))
    C.route_cases(catalog, _verdicts(spark, [("P1", "d1", "PASS", 1.0)]),
                  "2025-01-01 00:00:00")
    assert not catalog.exists(C.CASES_TABLE)
    C.route_cases(catalog, _verdicts(spark, [("P1", "d2", "HOLD", 90.0)]),
                  "2025-01-02 00:00:00")
    assert [r["doc_id"] for r in catalog.read(C.CASES_TABLE).collect()] == ["d2"]


def test_review_queue_order(spark):
    v = _verdicts(spark, [
        ("P1", "a", "REVIEW", 55.0),
        ("P1", "b", "HOLD", 91.0),
        ("P1", "c", "PASS", 10.0),
        ("P1", "d", "HOLD", 91.0),   # tie with b -> doc_id tie-break
    ])
    q = C.review_queue(v).collect()
    assert [r["doc_id"] for r in q] == ["b", "d", "a"]
    assert [r["queue_rank"] for r in q] == [1, 2, 3]


def test_review_queue_sla_aging_with_cases(spark):
    """With cases supplied (UI-001), equal risk_score orders by sla_due,
    earliest first and NULL last (a NULL due date or no case row), then
    by doc_id."""
    v = _verdicts(spark, [
        ("P1", "a", "HOLD", 91.0),
        ("P1", "b", "HOLD", 91.0),
        ("P1", "c", "HOLD", 91.0),
        ("P1", "d", "HOLD", 91.0),   # no case row: NULL sla_due
        ("P1", "e", "REVIEW", 60.0),
        ("P1", "f", "HOLD", 95.0),
    ])
    cases = spark.createDataFrame(
        [("a", None), ("b", "2025-01-05 00:00:00"), ("c", "2025-01-03 00:00:00"),
         ("e", "2025-01-01 00:00:00"), ("f", "2025-01-09 00:00:00")],
        "doc_id string, sla_due string",
    ).withColumn("sla_due", F.to_timestamp("sla_due"))
    q = C.review_queue(v, cases).collect()
    assert [r["doc_id"] for r in q] == ["f", "c", "b", "a", "d", "e"]
    assert [r["queue_rank"] for r in q] == [1, 2, 3, 4, 5, 6]


def test_simhash_banded_recall_matches_brute_force(spark):
    """Banded bucketing must find EVERY pair within the Hamming radius —
    the round-1 single-prefix variant missed pairs differing in the top
    bits. Compare against brute-force all-pairs Hamming on signatures."""
    from invoice_anomaly_detection_sieve_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog near the river bank "
    rows = []
    for i in range(24):
        # successive small perturbations yield a spread of Hamming distances
        text = base * 3 + f" variant {i % 7} tail{'x' * (i % 5)}"
        rows.append((i, text))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r["doc_id"]: r["sig"] for r in docs.select(
        "doc_id", dedup.simhash64(F.col("text")).alias("sig")).collect()}

    max_h = 8
    want = set()
    ids = sorted(sigs)
    for i in ids:
        for j in ids:
            if i < j:
                ham = bin((sigs[i] ^ sigs[j]) & 0xFFFFFFFFFFFFFFFF).count("1")
                if ham <= max_h:
                    want.add((i, j))
    got = {(r["a_id"], r["b_id"]) for r in
           dedup.simhash_near_duplicates(docs, max_hamming=max_h).collect()}
    assert want, "corpus must contain near-duplicate pairs for the test to bite"
    assert got == want


def test_runner_reads_are_exactly_once_after_retry(spark, tmp_path):
    """Appends are at-least-once under crash/resume; the read helpers
    collapse retries on natural keys."""
    from invoice_anomaly_detection_sieve_spark.datagen import synthesize_documents
    from invoice_anomaly_detection_sieve_spark.plans import runner as R

    documents, registry, _ = synthesize_documents(spark, seed=42)
    catalog = ParquetCatalog(spark, str(tmp_path / "wh"))
    cfg = V.ValidationConfig(dq_as_of="2024-04-01")
    metrics = R.run(spark, documents, registry, catalog, run_id="run_x", config=cfg)
    clean = {r["doc_id"] for r in R.read_run_verdicts(catalog, "run_x").collect()}
    assert len(clean) == metrics["docs_validated"]

    # simulate a crash AFTER a sink append but BEFORE its ledger append:
    # re-append one partition's verdicts without ledgering them
    dup_rows = catalog.read("doc_verdicts").where(
        (F.col("run_id") == "run_x") & (F.col("part") == "P1")
    )
    catalog.append("doc_verdicts", dup_rows)
    raw = catalog.read("doc_verdicts").where(F.col("run_id") == "run_x").count()
    assert raw > len(clean)  # duplicates really exist in the raw table
    deduped = {r["doc_id"] for r in R.read_run_verdicts(catalog, "run_x").collect()}
    assert deduped == clean  # exactly-once view restored


def test_bucketed_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """S7 at scale: a key-bucketed MERGE must leave untouched buckets'
    files byte-identical on disk (O(touched) copy-on-write, not O(table))."""
    import os

    catalog = ParquetCatalog(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame(
        [(f"k{i}", i) for i in range(200)], "media_key string, v long"
    )
    catalog.merge_upsert("reg", base, ["media_key"], buckets=8)
    assert catalog.read("reg").count() == 200

    data = os.path.join(str(tmp_path / "wh"), "reg", "data")
    def bucket_state():
        out = {}
        for b in os.listdir(data):
            if b.startswith("_bucket="):
                d = os.path.join(data, b)
                out[b] = {(f, os.path.getmtime(os.path.join(d, f)))
                          for f in os.listdir(d) if f.endswith(".parquet")}
        return out
    before = bucket_state()

    delta = spark.createDataFrame(
        [("k1", 111), ("k2", 222), ("new1", 1)], "media_key string, v long"
    )
    touched = {r[0] for r in delta.select(
        ParquetCatalog._bucket_col(["media_key"], 8).alias("b")).distinct().collect()}
    catalog.merge_upsert("reg", delta, ["media_key"], buckets=8)

    after = bucket_state()
    got = {r["media_key"]: r["v"] for r in catalog.read("reg").collect()}
    assert len(got) == 201 and got["k1"] == 111 and got["k2"] == 222 and got["new1"] == 1
    assert got["k5"] == 5  # untouched key survives
    untouched = [b for b in before if int(b.split("=")[1]) not in touched]
    assert untouched, "test corpus must leave some buckets untouched"
    for b in untouched:
        assert before[b] == after[b], f"untouched bucket {b} was rewritten"


def test_review_queue_two_stage_global_rank(spark):
    """Ranks are the strict global order AND the queue-row window is keyed
    by the range-slice id (no unbounded single-partition window over the
    queue; round-2 VERDICT #7)."""
    from invoice_anomaly_detection_sieve_spark.plans.cases import review_queue

    rows = [
        ("P", f"doc{i:04d}", "HOLD" if i % 3 == 0 else ("REVIEW" if i % 3 == 1 else "PASS"),
         float((i * 37) % 101))
        for i in range(300)
    ]
    verdicts = spark.createDataFrame(rows, "part string, doc_id string, decision string, risk_score double")
    q = review_queue(verdicts)
    got = [(r["doc_id"], r["queue_rank"]) for r in q.collect()]
    kept = [r for r in rows if r[2] in ("HOLD", "REVIEW")]
    want = sorted(kept, key=lambda r: (-r[3], r[1]))
    assert got == [(r[1], i + 1) for i, r in enumerate(want)]
    plan = q._jdf.queryExecution().toString()
    # the rank window must carry the slice-id partition spec; only the
    # O(#slices) offsets window may be global
    assert "_pid" in plan


def test_bucketed_merge_migrates_mismatched_layout(spark, tmp_path):
    """Bucket spec is persisted and validated: merging bucketed into a
    non-bucketed table (or with a different bucket count) migrates the
    layout instead of silently leaving stale same-key rows (round-2
    ADVICE)."""
    from invoice_anomaly_detection_sieve_spark.sources.catalog import ParquetCatalog

    cat = ParquetCatalog(spark, str(tmp_path / "cat"))
    df1 = spark.createDataFrame([(k, 1) for k in "abcd"], "k string, v int")
    cat.merge_upsert("t", df1, ["k"])  # plain, non-bucketed
    upd = spark.createDataFrame([("a", 2), ("e", 2)], "k string, v int")
    cat.merge_upsert("t", upd, ["k"], buckets=8)  # layout mismatch -> migrate
    rows = {r["k"]: r["v"] for r in cat.read("t").collect()}
    assert rows == {"a": 2, "b": 1, "c": 1, "d": 1, "e": 2}  # no stale 'a'
    assert cat.table_meta("t")["bucket_spec"] == {"keys": ["k"], "buckets": 8}
    # different bucket count -> migrate again, still exactly-one-row-per-key
    cat.merge_upsert("t", spark.createDataFrame([("b", 3)], "k string, v int"),
                     ["k"], buckets=4)
    rows = {r["k"]: r["v"] for r in cat.read("t").collect()}
    assert rows == {"a": 2, "b": 3, "c": 1, "d": 1, "e": 2}
    assert cat.table_meta("t")["bucket_spec"]["buckets"] == 4
    # buckets=None against a bucketed table routes through the stored spec
    cat.merge_upsert("t", spark.createDataFrame([("c", 4)], "k string, v int"), ["k"])
    rows = {r["k"]: r["v"] for r in cat.read("t").collect()}
    assert rows == {"a": 2, "b": 3, "c": 4, "d": 1, "e": 2}
    assert cat.table_meta("t")["bucket_spec"]["buckets"] == 4


def test_route_cases_bucketed_rewrites_only_touched_buckets(spark, tmp_path):
    """The cases table is O(all-history); a nightly run must cost
    O(touched buckets) — untouched buckets' files stay byte-identical and
    created_at is preserved through the bucket-pruned read."""
    import os

    catalog = ParquetCatalog(spark, str(tmp_path / "wh"))
    v1 = _verdicts(spark, [("P1", f"d{i}", "HOLD", 90.0) for i in range(40)])
    C.route_cases(catalog, v1, "2025-01-01 00:00:00", buckets=8)

    data = os.path.join(str(tmp_path / "wh"), C.CASES_TABLE, "data")

    def bucket_state():
        out = {}
        for b in os.listdir(data):
            if b.startswith("_bucket="):
                d = os.path.join(data, b)
                out[b] = {(f, os.path.getmtime(os.path.join(d, f)))
                          for f in os.listdir(d) if f.endswith(".parquet")}
        return out

    before = bucket_state()
    assert len(before) > 1  # corpus actually spans buckets

    v2 = _verdicts(spark, [("P1", "d1", "REVIEW", 60.0), ("P1", "dX", "HOLD", 99.0)])
    touched = {r[0] for r in spark.createDataFrame(
        [("d1",), ("dX",)], "doc_id string"
    ).select(ParquetCatalog._bucket_col(["doc_id"], 8).alias("b")).distinct().collect()}
    C.route_cases(catalog, v2, "2025-02-01 00:00:00", buckets=8)

    after = bucket_state()
    untouched = [b for b in before if int(b.split("=")[1]) not in touched]
    assert untouched, "test corpus must leave some buckets untouched"
    for b in untouched:
        assert before[b] == after[b], f"untouched bucket {b} was rewritten"
    # each bucket is written as one file, by the create and by the rewrite
    assert all(len(files) == 1 for files in after.values())

    rows = {r["doc_id"]: r.asDict()
            for r in catalog.read(C.CASES_TABLE).collect()}
    assert len(rows) == 41
    assert str(rows["d1"]["created_at"]).startswith("2025-01-01")  # preserved
    assert str(rows["d1"]["updated_at"]).startswith("2025-02-01")
    assert rows["d1"]["decision"] == "REVIEW"
    assert str(rows["dX"]["created_at"]).startswith("2025-02-01")
    assert str(rows["d5"]["updated_at"]).startswith("2025-01-01")  # untouched row


@pytest.mark.parametrize("prior_buckets", [8, None])
def test_route_cases_keeps_created_at_across_layouts(spark, tmp_path, prior_buckets):
    """A cases table written with another bucket count, or non-bucketed,
    is read whole and migrated to the requested layout; matched cases
    keep their created_at through the migration."""
    catalog = ParquetCatalog(spark, str(tmp_path / "wh"))
    v1 = _verdicts(spark, [("P1", f"d{i}", "HOLD", 90.0) for i in range(20)])
    catalog.merge_upsert(C.CASES_TABLE, C.open_cases(v1, "2025-01-01 00:00:00"),
                         ["doc_id"], buckets=prior_buckets)

    v2 = _verdicts(spark, [("P1", "d1", "REVIEW", 60.0), ("P1", "dX", "HOLD", 99.0)])
    C.route_cases(catalog, v2, "2025-02-01 00:00:00", buckets=4)
    rows = {r["doc_id"]: r.asDict() for r in catalog.read(C.CASES_TABLE).collect()}
    assert len(rows) == 21
    assert str(rows["d1"]["created_at"]).startswith("2025-01-01")  # kept
    assert str(rows["d1"]["updated_at"]).startswith("2025-02-01")
    assert rows["d1"]["decision"] == "REVIEW"
    assert str(rows["dX"]["created_at"]).startswith("2025-02-01")
    assert str(rows["d5"]["updated_at"]).startswith("2025-01-01")
    assert catalog.table_meta(C.CASES_TABLE)["bucket_spec"] == {
        "keys": ["doc_id"], "buckets": 4}


def test_merge_upsert_on_match_plain_table(spark, tmp_path):
    """``on_match`` on the non-bucketed path: ``fn(new, old)`` is the
    stored value, ``old`` the target row's value and NULL for a new key;
    the other columns take the source's value."""
    import os

    cat = ParquetCatalog(spark, str(tmp_path / "cat"))
    rule = {"v": lambda new, old: new + F.coalesce(old, F.lit(100))}

    def merge(rows):
        cat.merge_upsert("t", spark.createDataFrame(rows, "k string, v int, w string"),
                         ["k"], on_match=rule)
        return {r["k"]: (r["v"], r["w"]) for r in cat.read("t").collect()}

    assert merge([("a", 1, "x"), ("b", 2, "x")]) == {"a": (101, "x"), "b": (102, "x")}
    assert merge([("b", 5, "y"), ("c", 3, "y")]) == {
        "a": (101, "x"), "b": (107, "y"), "c": (103, "y")}
    assert "bucket_spec" not in cat.table_meta("t")
    data = os.path.join(str(tmp_path / "cat"), "t", "data")
    assert not [d for d in os.listdir(data) if d.startswith("_bucket=")]


def _jobs(spark, fn) -> list[str]:
    """Call site of each Spark job ``fn`` runs, in job order, read from
    the status tracker through a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    return [st.getStageInfo(min(st.getJobInfo(j).stageIds)).name
            for j in sorted(st.getJobIdsForGroup(group))]


def test_route_cases_job_count(spark, tmp_path, monkeypatch):
    """route_cases runs no count and no extra collect: creating the table
    is the write alone, and a merge into the existing bucketed table
    collects its touched buckets once (one call site) before the write,
    which reads each touched bucket once (one join of the prior rows and
    the source)."""
    catalog = ParquetCatalog(spark, str(tmp_path / "wh"))
    plans = []
    rewrite = ParquetCatalog._rewrite_buckets

    def spy(self, name, df, spec):
        plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return rewrite(self, name, df, spec)

    monkeypatch.setattr(ParquetCatalog, "_rewrite_buckets", spy)
    v1 = _verdicts(spark, [("P1", f"d{i}", "HOLD", 90.0) for i in range(40)])
    v2 = _verdicts(spark, [("P1", "d1", "REVIEW", 60.0), ("P1", "dX", "HOLD", 99.0)])

    create = _jobs(spark, lambda: C.route_cases(catalog, v1, "2025-01-01 00:00:00",
                                                buckets=8))
    assert not [j for j in create if j.startswith("collect at")], create
    assert len(create) <= 2, create

    merge = _jobs(spark, lambda: C.route_cases(catalog, v2, "2025-02-01 00:00:00",
                                               buckets=8))
    collects = {j for j in merge if j.startswith("collect at")}
    assert len(collects) == 1, merge
    assert len(merge) <= 7, merge
    scans = [p.count(" parquet") for p in plans]
    assert scans == [0, 1], plans
