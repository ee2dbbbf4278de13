"""One-off stage-level profiler for the 8->32 scaling residual.

Runs the flagship validation at a pinned core count (fresh subprocess,
taskset mask, same protocol as bench.py run_level_child) on the
replicated scaling corpus, then dumps per-stage wall duration and
aggregate task time from the local UI REST API.  Comparing the 8-core
and 32-core dumps shows which stages fail to speed up.

Usage:
  python tools/profile_scaling.py materialize          # build corpora
  python tools/profile_scaling.py run <cores>          # profile a level
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers import the package from this checkout too
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

REPLICAS = int(os.environ.get("SIEVE_PROF_REPLICAS", "8"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _paths():
    import bench

    tag = os.path.basename(SF_DIR.rstrip("/"))
    root = os.path.join(bench.WORK_DIR, f"{tag}-x{REPLICAS}")
    return (os.path.join(root, "documents.parquet"),
            os.path.join(root, "registry.parquet"))


def materialize():
    import bench

    spark = bench.fresh_session(32)
    bench.materialize_inputs(spark, SF_DIR)
    p, r = bench.materialize_scaling_inputs(spark, SF_DIR, REPLICAS)
    print("materialized", p, r)
    spark.stop()


def run(cores: int):
    import bench

    docs_path, reg_path = _paths()
    from invoice_anomaly_detection_sieve_spark.session import get_spark
    spark = get_spark(
        "sieve-profile", cores=cores, shuffle_partitions=4 * cores,
        extra_conf={"spark.sql.adaptive.enabled": "false",
                    "spark.ui.showConsoleProgress": "false",
                    "spark.ui.enabled": "true",
                    "spark.ui.retainedStages": "2000",
                    "spark.driver.extraJavaOptions":
                        f"-XX:ActiveProcessorCount={cores}"})
    spark.sparkContext.setLogLevel("ERROR")
    # warmup on the base corpus (one-time codegen/JIT, same as bench)
    base_docs = os.path.join(bench.WORK_DIR,
                             os.path.basename(SF_DIR.rstrip("/")),
                             "documents.parquet")
    bench.validate_once(spark, base_docs, reg_path)
    t0 = time.time()
    sec, n = bench.validate_once(spark, docs_path, reg_path)
    wall = time.time() - t0
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    stages = json.load(urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app}/stages?status=complete"))
    # keep only stages submitted after t0 (the measured run)
    out = []
    for s in stages:
        sub = s.get("submissionTime", "")
        out.append({
            "stage": s["stageId"],
            "name": (s.get("name") or "")[:80],
            "sub": sub,
            "dur_s": round((s.get("executorRunTime") or 0) / 1000.0, 2),
            "cpu_s": round((s.get("executorCpuTime") or 0) / 1e9, 2),
            "tasks": s.get("numCompleteTasks"),
            "input_mb": round((s.get("inputBytes") or 0) / 1e6, 1),
            "shuffle_r_mb": round((s.get("shuffleReadBytes") or 0) / 1e6, 1),
            "first_task": s.get("firstTaskLaunchedTime", ""),
            "completion": s.get("completionTime", ""),
        })
    try:
        sqls = json.load(urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app}/sql?details=true&length=200"))
    except Exception as e:  # noqa: BLE001
        sqls = [{"error": str(e)}]
    result = {"cores": cores, "wall_s": round(sec, 2), "verdicts": n,
              "stages": out, "sql": sqls}
    fn = f"/tmp/profile_stages_{cores}.json"
    with open(fn, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps({"cores": cores, "wall_s": round(sec, 2),
                      "stages_file": fn,
                      "sum_task_s": round(sum(s["dur_s"] for s in out), 1)}))
    spark.stop()


if __name__ == "__main__":
    if len(sys.argv) < 2 or (sys.argv[1] != "materialize" and len(sys.argv) < 3):
        print(__doc__ or "usage: profile_scaling.py materialize | run <cores>",
              file=sys.stderr)
        sys.exit(2)
    if sys.argv[1] == "materialize":
        materialize()
    else:
        cores = int(sys.argv[2])
        cpus = list(range(cores))
        if os.environ.get("SIEVE_PROF_CHILD") != "1":
            env = dict(os.environ, SIEVE_PROF_CHILD="1")
            mask = ",".join(str(c) for c in cpus)
            os.execvpe("taskset", ["taskset", "-c", mask, sys.executable,
                                   os.path.abspath(__file__), "run",
                                   str(cores)], env)
        run(cores)
