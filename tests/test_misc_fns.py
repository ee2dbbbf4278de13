"""F5 payload hash, F6 text_blob, the expression cache, and physical-plan
quality checks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from invoice_anomaly_detection_sieve_spark.functions import normalize as N


def test_payload_hash_stable(spark):
    # canonical content hash: stable across row order, sensitive to values
    # (reference invoice_payload_hash, app/normalization.py:66-70)
    df = spark.createDataFrame(
        [("V1", "INV-1", 100.0), ("V1", "INV-1", 100.0), ("V1", "INV-2", 100.0)],
        "vendor string, invnum string, total double",
    )
    out = df.select(
        N.payload_hash(F.col("invnum"), F.col("total"), F.col("vendor")).alias("h")
    ).collect()
    assert out[0]["h"] == out[1]["h"]
    assert out[0]["h"] != out[2]["h"]
    assert len(out[0]["h"]) == 64


def test_text_blob(spark):
    # reference app/normalization.py:52-63: join non-empty parts, lowercase
    df = spark.createDataFrame(
        [(["ACME Corp", "", None, "NET30", "SKU-1", "Blue Widget"],)],
        "parts array<string>",
    )
    out = df.select(N.text_blob(F.col("parts")).alias("b")).first()["b"]
    assert out == "acme corp net30 sku-1 blue widget"


def test_exprcache_shared_across_threads(spark):
    """The runner's sinks build expressions on worker threads, where the
    per-thread active session is None: they must get the entry the main
    thread built, and a key requested by many threads at once is built
    once."""
    import sys
    import time
    from concurrent.futures import ThreadPoolExecutor

    from invoice_anomaly_detection_sieve_spark.functions.exprcache import cached_exprs

    main = cached_exprs(("test.threads",), lambda: F.col("x") + 1)
    with ThreadPoolExecutor(1) as pool:
        other = pool.submit(cached_exprs, ("test.threads",), lambda: F.col("x") + 1)
        assert other.result(timeout=60) is main

    builds = []

    def build():
        builds.append(1)
        time.sleep(0.001)
        return object()

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as pool:
            futures = [pool.submit(cached_exprs, ("test.race",), build) for _ in range(64)]
            got = [f.result(timeout=60) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert len(builds) == 1
    assert all(g is got[0] for g in got)


def test_exprcache_rebuilds_for_another_context(spark, monkeypatch):
    """An entry built on one SparkContext is never served on another."""
    from pyspark import SparkContext

    from invoice_anomaly_detection_sieve_spark.functions.exprcache import cached_exprs

    first = cached_exprs(("test.ctx",), object)
    assert cached_exprs(("test.ctx",), object) is first
    monkeypatch.setattr(SparkContext, "_active_spark_context", object())
    assert cached_exprs(("test.ctx",), object) is not first


@pytest.fixture(scope="module")
def tpch_docs(spark):
    from invoice_anomaly_detection_sieve_spark.datagen import docs_from_tpch
    from invoice_anomaly_detection_sieve_spark.documents import extract_docs

    return extract_docs(docs_from_tpch(spark, "/root/testdata/sf0.001"))


def test_plan_point_lookup_pushes_filter(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .where(F.col("o_orderkey") == 42)
        .select("o_orderkey", "o_totalprice")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,42)" in plan
    # column pruning: only the two projected columns are read
    assert "ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>" in plan


def test_plan_registry_join_is_broadcast(spark, tpch_docs):
    from invoice_anomaly_detection_sieve_spark.datagen import registry_from_tpch
    from invoice_anomaly_detection_sieve_spark.operators import registry

    flagged = registry.bank_change_flags(tpch_docs, registry_from_tpch(spark))
    plan = flagged._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_plan_profile_join_is_broadcast(spark, tpch_docs):
    from invoice_anomaly_detection_sieve_spark.operators import drift, profile

    prof = profile.profile(tpch_docs, "total")
    hist = profile.group_history_counts(tpch_docs)
    docs = tpch_docs.withColumn("bank_change", F.lit(False))
    out = drift.with_anomaly_scores(docs, prof, hist)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_plan_blocking_has_single_pair_shuffle(spark, tpch_docs):
    from invoice_anomaly_detection_sieve_spark.operators import blocking

    pairs = blocking.candidate_pairs(tpch_docs, max_key_fanout=None)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    # the pair join itself must be an equi join (hash or sort-merge), never
    # a nested-loop/cartesian — the whole point of decomposing the OR
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_plan_extraction_is_shuffle_free(spark):
    # extraction over a stored documents table must be a pure projection
    # pipeline: zero exchanges (the datagen's groupBy/join is upstream of
    # the stored table, so read it from a DataFrame source directly)
    from invoice_anomaly_detection_sieve_spark.documents import extract_docs
    from invoice_anomaly_detection_sieve_spark.schema import DOCUMENTS

    raw = spark.createDataFrame([], DOCUMENTS)
    plan = extract_docs(raw)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:2000]
