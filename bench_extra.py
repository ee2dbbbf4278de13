"""Supplementary benchmarks for the optimization round (bench.py is frozen
for measurement; extra isolation lives here per the optimization guide
§1.4: noop-sink isolation, per-component timing of the flagship DAG, and
per-query best-of-N for paths bench.py does not time).

Usage:
  python bench_extra.py components   # flagship validate_full stage-by-stage
  python bench_extra.py queries      # per-query noop timings incl. LLM heavies
  python bench_extra.py validate [n] # headline validate_full best-of-n
All phases print one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench  # frozen harness: reuse its session/materialize helpers

SF_DIR = bench.SF_DIR
CPUS = bench.CPUS


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(fn, n=2):
    """best-of-n wall seconds (first run may pay codegen JIT)."""
    best = float("inf")
    for _ in range(n):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return round(best, 3)


def components():
    """Time each stage of the flagship validation in isolation (noop sink)."""
    from invoice_anomaly_detection_sieve_spark.operators import (
        blocking, pairs, profile, registry,
    )
    from invoice_anomaly_detection_sieve_spark.documents import extract_docs

    spark = bench.fresh_session(CPUS)
    docs_path, reg_path, _ = bench.materialize_inputs(spark, SF_DIR)
    documents = spark.read.parquet(docs_path)
    reg = spark.read.parquet(reg_path)
    out: dict = {}
    sc = spark.sparkContext

    def run(name, fn, n=2):
        sc.setJobDescription(name)
        out[name] = timed(fn, n)
        sc.setJobDescription(None)
        print(f"[components] {name}: {out[name]}s", file=sys.stderr, flush=True)

    # 1. extraction alone (noop = all columns computed)
    run("extract_noop", lambda: noop(extract_docs(documents).drop("spans")))
    # 2. extraction + persist + count (what run_validation pays up front)
    def persist_cycle():
        d = extract_docs(documents).drop("spans").persist()
        d.count()
        d.unpersist()
    run("extract_persist_count", persist_cycle)
    # 3. full pipeline pieces over a persisted extraction
    docs = extract_docs(documents).drop("spans").persist()
    docs.count()
    run("blocking_pairs", lambda: noop(blocking.candidate_pairs(docs)))
    pair_ids = blocking.candidate_pairs(docs)
    run("score_pairs", lambda: noop(pairs.score_pairs(docs, pair_ids)))
    run("dup_rollup", lambda: noop(
        pairs.doc_duplicate_signals(pairs.score_pairs(docs, pair_ids))))
    run("profile", lambda: noop(profile.profile(docs, "total")))
    run("bank_flags", lambda: noop(registry.bank_change_flags(docs, reg)))
    docs.unpersist()
    # 4. end-to-end (run_validation's own persist path), same as bench
    run("validate_full", lambda: bench.validate_once(spark, docs_path, reg_path)[0] and None, n=3)
    print(json.dumps(out))
    spark.stop()


def queries():
    """Per-query noop timings, best-of-2: bench.py's list + the LLM heavies
    VERDICT asked to track (sim_ivf_topk, dedup_clusters, dedup_simhash,
    mm_image_decode_verified)."""
    from invoice_anomaly_detection_sieve_spark.plans.queries import QUERIES

    spark = bench.fresh_session(CPUS)
    out: dict = {}
    names = [
        "j1_blocking_pairs", "a1_profile_baselines", "w1_topk_per_group",
        "j5_m5_zscore_outliers", "a4_nested_line_sum",
        "sim_ivf_topk", "dedup_clusters", "dedup_simhash",
        "mm_image_decode_verified",
    ]
    for name in names:
        spark.sparkContext.setJobDescription(name)
        out[name] = timed(lambda: noop(QUERIES[name](spark, SF_DIR)))
        spark.sparkContext.setJobDescription(None)
        print(f"[queries] {name}: {out[name]}s", file=sys.stderr, flush=True)

    print(json.dumps(out))
    spark.stop()


def validate(n=3):
    spark = bench.fresh_session(CPUS)
    docs_path, reg_path, _ = bench.materialize_inputs(spark, SF_DIR)
    bench.validate_once(spark, docs_path, reg_path)  # warmup
    times = []
    for i in range(n):
        sec, docs = bench.validate_once(spark, docs_path, reg_path)
        times.append(round(sec, 2))
        print(f"[validate] sample {i}: {sec:.2f}s", file=sys.stderr, flush=True)
    print(json.dumps({"samples": times, "best": min(times), "docs": docs,
                      "docs_per_sec": round(docs / min(times), 1)}))
    spark.stop()


if __name__ == "__main__":
    phase = sys.argv[1] if len(sys.argv) > 1 else "validate"
    if phase == "components":
        components()
    elif phase == "queries":
        queries()
    else:
        validate(int(sys.argv[2]) if len(sys.argv) > 2 else 3)
