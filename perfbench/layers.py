"""Per-layer trace, taken from the benchmark's own files.

Two sources, neither of which changes the program:

- ``Spans`` wraps the public functions that ``runner.run`` calls into
  (catalog writes and reads, ledger lookups, case routing) for the
  duration of one traced operation and records each call's inclusive
  wall time.
- ``layer_pass`` calls each flagship layer on its own over the workload's
  inputs and forces every output column with a ``noop`` write, so no
  layer is timed through a ``count()`` that Catalyst could shortcut. Its
  calls run under job groups, so jobs, tasks, task time and shuffle bytes
  are read from Spark's status store. It also asserts that the pair
  kernel (``ArrowEvalPython``) is in the executed plan of
  ``pairs.score_pairs`` and in the plans, ``count()``-shaped ones
  included, of the timed flagship verdicts and of the unpersisted
  flagship DAG whose Exchange nodes it counts.
"""

from __future__ import annotations

import functools
import os
import re
import statistics
import sys
import time
from contextlib import contextmanager

from pyspark.sql import functions as F

from invoice_anomaly_detection_sieve_spark.documents import extract_docs
from invoice_anomaly_detection_sieve_spark.operators import (
    blocking, drift, pairs, profile, registry, rowchecks,
)
from invoice_anomaly_detection_sieve_spark.plans import cases, runner
from invoice_anomaly_detection_sieve_spark.plans import validate as V
from invoice_anomaly_detection_sieve_spark.sources.catalog import ParquetCatalog

# (owner, attribute, span name): the calls runner.run and run_incremental
# make into other modules, looked up through these attributes at call time
WRAPPED = (
    (runner, "run", "runner.run"),
    (ParquetCatalog, "append", "catalog.append"),
    (ParquetCatalog, "merge_upsert", "catalog.merge_upsert"),
    (ParquetCatalog, "read_since", "catalog.read_since"),
    (runner, "completed_parts", "runner.ledger_lookup"),
    (runner, "last_consumed_snapshot", "runner.ledger_lookup"),
    (cases, "route_cases", "cases.route"),
)


def _timed(fn, name: str, rec: dict):
    @functools.wraps(fn)
    def wrapper(*a, **k):
        t0 = time.perf_counter()
        try:
            return fn(*a, **k)
        finally:
            rec[name] = rec.get(name, 0.0) + time.perf_counter() - t0

    return wrapper


class Spans:
    """Inclusive wall time per span name, one record per traced operation."""

    def __init__(self):
        self.ops: list[dict[str, float]] = []

    @contextmanager
    def installed(self):
        """Wrap every ``WRAPPED`` function for one operation."""
        rec: dict[str, float] = {}
        self.ops.append(rec)
        saved = [(owner, attr, owner.__dict__[attr]) for owner, attr, _ in WRAPPED]
        for (owner, attr, fn), (_, _, name) in zip(saved, WRAPPED):
            setattr(owner, attr, _timed(fn, name, rec))
        try:
            yield rec
        finally:
            for owner, attr, fn in saved:
                setattr(owner, attr, fn)

    def count_files(self, root: str, docs: int) -> None:
        """Record the parquet files and bytes a traced operation left in
        its warehouse ``root``; called after the timed window."""
        files, size = 0, 0
        for dirpath, _, names in os.walk(root):
            for f in names:
                if f.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, f))
        self.ops[-1].update(_files=files, _bytes=size, _docs=docs)


def group_stats(spark, groups) -> dict:
    """Jobs, tasks, task seconds and shuffle MB of the given job groups,
    read from Spark's status store once every job has finished."""
    from py4j.protocol import Py4JError

    tracker = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    ids = [j for g in groups for j in tracker.getJobIdsForGroup(g)]
    deadline = time.time() + 30
    while True:
        infos = [tracker.getJobInfo(j) for j in ids]
        if all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos):
            break
        if time.time() > deadline:
            raise RuntimeError(f"jobs of {groups} did not finish in the status store")
        time.sleep(0.05)
    tasks = run_ms = shuffle = 0
    for sid in {s for i in infos for s in i.stageIds}:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JError:  # stage planned but never submitted
            continue
        if st.status().toString() == "SKIPPED":
            continue
        tasks += st.numTasks()
        run_ms += st.executorRunTime()
        shuffle += st.shuffleWriteBytes()
    return {"jobs": len(ids), "tasks": tasks, "task_s": run_ms / 1000, "shuffle_mb": shuffle / 2**20}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def _exchanges(plan: str) -> int:
    # the formatted plan names each node once in its detail section
    return len(re.findall(r"^\(\d+\) \w*Exchange\b", plan, flags=re.M))


def _has_kernel(df) -> bool:
    counted = df.groupBy().count()
    return all("ArrowEvalPython" in _plan(d) for d in (df, counted))


def layer_pass(spark, workload, spans: Spans, session_start_s: float) -> dict:
    """Every per-layer metric of ``BENCHMARK.json`` except the trace
    deltas, plus ``_attempted`` and ``_failures``: this pass checks two
    operations, the kernel-in-plan guard and the incremental step. On
    hot_vendors it runs over a corpus no timed operation has seen."""
    workload.prepare()
    sc = spark.sparkContext
    cfg = V.ValidationConfig()
    out: dict[str, float] = {"session.start_s": session_start_s}
    failures = 0

    def timed(name, build):
        """Time ``build()`` and a noop write of the frame it returns, under
        job group ``layer:<name>``; return the group."""
        group = f"layer:{name}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        _noop(build())
        out[name] = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        return group

    n_docs = workload.n_docs
    timed("documents.extract_s", lambda: extract_docs(workload.documents))

    # the persisted slim projection every layer below reads
    docs = V.run_validation(workload.documents, workload.registry, config=cfg)["extracted_docs"]

    cand = blocking.candidate_pairs(docs, cap=cfg.candidate_cap, max_key_fanout=cfg.max_key_fanout)
    timed("blocking.candidate_pairs_s", lambda: cand)
    cand = cand.cache()
    n_pairs = cand.count()
    out["blocking.pairs_per_doc"] = n_pairs / n_docs
    out["blocking.docs_at_cap"] = (
        cand.groupBy("a_doc_id").count().where(F.col("count") >= cfg.candidate_cap).count()
    )
    out["blocking.keys_over_fanout"] = (
        blocking.block_keys(docs).groupBy("part", "bkey").count()
        .where(F.col("count") > cfg.max_key_fanout).count()
    )

    scored = pairs.score_pairs(docs, cand, model=cfg.dup_model, payload_mode=cfg.pair_payload_mode)
    kernel_ok = "ArrowEvalPython" in _plan(scored)
    score_group = timed("pairs.score_s", lambda: scored)
    out["pairs.kernel_us_per_pair"] = (
        group_stats(spark, [score_group])["task_s"] * 1e6 / max(n_pairs, 1)
    )
    scored = scored.cache()
    scored.count()
    signals = pairs.doc_duplicate_signals(scored, k=cfg.top_k)
    timed("pairs.topk_s", lambda: signals)
    out["pairs.top1_per_pair"] = (
        signals.where(F.col("top_match_doc_id").isNotNull()).count() / max(n_pairs, 1)
    )

    prof = profile.profile(docs, "total")
    timed("profile.profile_s", lambda: prof)
    prof = prof.cache()
    prof.count()
    flags = registry.bank_change_flags(docs, workload.registry)
    timed("registry.flags_s", lambda: flags)
    flags = flags.cache()
    flags.count()
    timed("drift.anomaly_s", lambda: drift.with_anomaly_scores(flags, prof, history_includes_self=True))
    timed("drift.benford_s", lambda: drift.benford_stats(prof))
    timed("rowchecks.checks_s", lambda: rowchecks.with_row_checks(docs, as_of=cfg.dq_as_of))
    for df in (flags, prof, scored, cand, docs):
        df.unpersist()

    # the whole verdict DAG, slim persist included, as one forced write
    full = {}

    def flagship():
        full.update(V.run_validation(workload.documents, workload.registry, config=cfg))
        return full["doc_verdicts"]

    st = group_stats(spark, [timed("validate.dag_s", flagship)])
    kernel_ok = kernel_ok and _has_kernel(full["doc_verdicts"])
    full["extracted_docs"].unpersist()
    out["validate.jobs"], out["validate.tasks"] = st["jobs"], st["tasks"]
    out["validate.task_s"], out["validate.shuffle_write_mb"] = st["task_s"], st["shuffle_mb"]

    # plan shape of the unpersisted flagship DAG, as plans/r06 captured it
    shape = V.run_validation(
        workload.documents, workload.registry,
        config=V.ValidationConfig(dq_as_of="2025-01-01", enable_dq=False),
        persist_extraction=False,
    )["doc_verdicts"]
    out["validate.exchanges"] = _exchanges(_plan(shape))
    kernel_ok = kernel_ok and _has_kernel(shape)
    out["validate.kernel_in_plan"] = int(kernel_ok)
    failures += not kernel_ok

    # spans of the traced end-to-end operations
    def median_span(name):
        return statistics.median(op.get(name, 0.0) for op in spans.ops)

    for span, metric in (
        ("runner.run", "runner.run_s"),
        ("catalog.append", "catalog.append_s"),
        ("catalog.merge_upsert", "catalog.merge_upsert_s"),
        ("cases.route", "cases.route_s"),
    ):
        out[metric] = median_span(span)
    out["runner.overhead_s"] = out["runner.run_s"] - out["validate.dag_s"]
    counted = [op for op in spans.ops if "_files" in op]
    out["catalog.files_per_run"] = statistics.median(op["_files"] for op in counted)
    out["catalog.bytes_per_doc"] = statistics.median(op["_bytes"] / op["_docs"] for op in counted)

    # one incremental step: a base slice, then a second slice appended and
    # validated through the ledger bookmark and read_since
    incremental = os.path.join(workload.workdir, "incremental")
    cat = ParquetCatalog(spark, incremental)
    slices = workload.documents.withColumn("_s", F.pmod(F.xxhash64("doc_id"), F.lit(10)))
    base = slices.where(F.col("_s") == 0).drop("_s")
    step = slices.where(F.col("_s") == 1).drop("_s")
    try:
        with spans.installed():
            cat.append("documents", base)
            first = runner.run_incremental(spark, cat, "documents", workload.registry)
        with spans.installed():
            cat.append("documents", step)
            second = runner.run_incremental(spark, cat, "documents", workload.registry)
        if first["docs_validated"] != base.count() or second["docs_validated"] != step.count():
            failures += 1
    except Exception as exc:  # counted as a failed operation
        print("FAILED: incremental step:", repr(exc), file=sys.stderr)
        failures += 1
    rec = spans.ops[-1]
    out["catalog.read_since_s"] = rec.get("catalog.read_since", 0.0)
    out["runner.ledger_lookup_s"] = rec.get("runner.ledger_lookup", 0.0)
    out["_attempted"], out["_failures"] = 2, failures
    return out
