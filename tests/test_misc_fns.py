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


def test_score_pairs_accepts_only_the_per_pair_crossing():
    """The once-per-doc dictionary crossing is gone; asking for it fails
    loudly instead of silently scoring another way."""
    from invoice_anomaly_detection_sieve_spark.operators import pairs

    with pytest.raises(ValueError, match="payload_mode"):
        pairs.score_pairs(None, None, payload_mode="dict")


_RESTART_SCRIPT = r"""
from invoice_anomaly_detection_sieve_spark.datagen import synthesize_documents
from invoice_anomaly_detection_sieve_spark.documents import extract_docs
from invoice_anomaly_detection_sieve_spark.functions import exprcache
from invoice_anomaly_detection_sieve_spark.operators import blocking, pairs
from invoice_anomaly_detection_sieve_spark.session import get_spark


def score(app):
    spark = get_spark(app, cores=2, shuffle_partitions=2)
    documents, _, _ = synthesize_documents(spark, n_parts=2, docs_per_part=20, seed=3)
    docs = extract_docs(documents)
    scored = pairs.score_pairs(docs, blocking.candidate_pairs(docs))
    rows = sorted(tuple(r) for r in scored.collect())
    return spark, rows, exprcache._CACHE[("pairs.kernel_udf",)]


first, rows1, udf1 = score("restart-1")
first.stop()
second, rows2, udf2 = score("restart-2")
assert second.sparkContext is not first.sparkContext
assert exprcache._CTX is second.sparkContext
assert udf2 is not udf1, "kernel UDF of the stopped context was served"
assert rows1, "corpus must yield scored pairs"
assert rows2 == rows1
second.stop()
print("RESTART_OK", len(rows1))
"""


def test_exprcache_survives_real_session_restart(tmp_path):
    """A real ``spark.stop()`` and a new session in one process: the cached
    kernel UDF and expressions are rebuilt for the new context and score
    the same rows. Runs in a subprocess so the shared session is
    untouched."""
    import os
    import pathlib
    import subprocess
    import sys

    repo = str(pathlib.Path(__file__).resolve().parent.parent)
    env = dict(os.environ, SIEVE_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo, env.get("PYTHONPATH")) if p
    )
    script = tmp_path / "restart.py"
    script.write_text(_RESTART_SCRIPT)
    done = subprocess.run(
        [sys.executable, str(script)], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-4000:]
    assert "RESTART_OK" in done.stdout


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
    docs = tpch_docs.withColumn("bank_change", F.lit(False))
    out = drift.with_anomaly_scores(docs, prof)
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


def test_flagship_plan_exchange_count(spark):
    """The unpersisted flagship DAG plans at most 11 Exchange nodes (the
    count ``validate.exchanges`` reports; 6×40 synthesized docs on 4
    shuffle partitions measure 11). A plan regression that adds a shuffle
    fails here instead of waiting for a traced benchmark run."""
    import re

    from invoice_anomaly_detection_sieve_spark.datagen import synthesize_documents
    from invoice_anomaly_detection_sieve_spark.plans import validate as V

    documents, registry, _ = synthesize_documents(spark, docs_per_part=40, seed=42)
    verdicts = V.run_validation(
        documents, registry,
        config=V.ValidationConfig(dq_as_of="2025-01-01", enable_dq=False),
        persist_extraction=False,
    )["doc_verdicts"]
    plan = spark._jvm.PythonSQLUtils.explainString(verdicts._jdf.queryExecution(), "formatted")
    # the formatted plan names each node once in its detail section
    exchanges = re.findall(r"^\(\d+\) \w*Exchange\b", plan, flags=re.M)
    assert "ArrowEvalPython" in plan
    assert len(exchanges) <= 11, plan
