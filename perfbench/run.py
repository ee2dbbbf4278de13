"""spark-sieve benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload nightly_full --seed 1 --seconds 5 --trace 0

Run from the repository root. The run

1. starts a pinned Spark session (``local[N]``, N = min(4, cpus); 4
   shuffle partitions; 2g driver heap) with every scratch path inside
   ``.perfbench_work/`` of the checkout;
2. generates the workload's inputs from ``--seed`` (``workloads.py``),
   outside the timed window (hot_vendors: a new corpus per operation);
3. runs a fixed number of untimed warm-up operations (the first run in a
   JVM pays codegen, JIT and Python-worker start-up);
4. repeats the timed operation until ``--seconds`` have elapsed, at
   least once (three times with ``--trace 1``), checking the outputs of
   every operation;
5. prints ``{"correct", "attempted", "failed", "metrics"}`` as the last
   line: the end-to-end metrics with ``--trace 0``, the per-layer metrics
   (``layers.py``) with ``--trace 1``.

End-to-end metrics are medians over the timed operations, except
``peak_rss_mb`` (peak of the whole run) and ``setup_s`` (process start to
the end of the warm-up). ``README.md`` has the method and the checks.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CORES = min(4, len(os.sched_getaffinity(0)))
SHUFFLE_PARTITIONS = 4
DRIVER_MEM = "2g"
WARMUP_RUNS = 1
MIN_TIMED_RUNS = 1
CLK_TCK = os.sysconf("SC_CLK_TCK")

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCHMARK = json.load(_fh)
UNITS = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"] + BENCHMARK["per_layer"]}


# -- process tree (the Python driver, the JVM it launches, Python workers) --

def _tree_pids(root: int) -> list[int]:
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
        except OSError:  # exited while we walked
            continue
    return pids


def tree_cpu_s() -> float:
    """User+system CPU of the live tree plus its reaped children."""
    total = 0
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / CLK_TCK


def tree_pss_mb() -> float:
    """Proportional set size of the tree: forked Python workers share
    pages with their daemon, which a plain RSS sum would count again."""
    total = 0
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024


class RssSampler(threading.Thread):
    """Samples the tree's resident memory every 100 ms; ``peak`` is the max."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0.0
        self._stop_evt = threading.Event()

    def run(self):
        while not self._stop_evt.wait(0.1):
            self.peak = max(self.peak, tree_pss_mb())

    def stop(self):
        self._stop_evt.set()
        self.join(timeout=5)


# -- session ----------------------------------------------------------------

def start_session(workdir: str):
    """Pinned session; the package goes on the Python workers' path and
    every scratch directory (shuffle, JVM and Python temp files) lives in
    ``workdir``, so the benchmark runs from any checkout."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SIEVE_DRIVER_MEM"] = DRIVER_MEM
    from invoice_anomaly_detection_sieve_spark.session import get_spark

    return get_spark(
        "sieve-perfbench",
        cores=CORES,
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.local.dir": os.path.join(workdir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(workdir, "spark-warehouse"),
            "spark.driver.extraJavaOptions": (
                # a committed heap keeps the JVM's resident size from
                # tracking G1's resize decisions run to run
                f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# -- measurement ------------------------------------------------------------

def one_op(workload, i: int, spans=None) -> dict:
    """One timed operation, with its inputs made before and its outputs
    checked after the timed window."""
    workload.prepare()
    c0, t0 = tree_cpu_s(), time.perf_counter()
    try:
        if spans is None:
            docs, handle = workload.run(i)
        else:
            with spans.installed():
                docs, handle = workload.run(i)
    except Exception as exc:  # a failed operation is counted, not fatal
        return {"ok": False, "error": repr(exc)}
    wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
    if spans is not None:
        spans.count_files(handle[0].root, docs)
    try:
        failures = workload.check(handle)
    except Exception as exc:
        failures = [repr(exc)]
    workload.cleanup(handle)
    print(f"op {i}: {docs} docs, {wall:.3f} s wall, {cpu:.2f} s cpu, "
          f"{len(failures)} failed checks", file=sys.stderr)
    return {"ok": not failures, "errors": failures, "docs": docs, "wall": wall, "cpu": cpu}


def measure(spark, args, workdir: str, t_setup0: float) -> dict:
    """Set up, warm up, measure; return the result object."""
    import layers
    import workloads

    workload = workloads.WORKLOADS[args.workload](
        spark, workdir, args.seed, smoke=getattr(args, "smoke", False)
    )
    warm = [one_op(workload, -1 - i) for i in range(WARMUP_RUNS)]
    setup_s = time.time() - t_setup0

    spans = layers.Spans() if args.trace else None
    ops = []
    t0 = time.perf_counter()
    # with --trace 1, every other operation runs traced, starting with an
    # untraced one and ending after at least one more, so the untraced
    # operations bracket the traced ones and warm-up drift cancels out of
    # the traced-minus-untraced overhead
    min_ops = MIN_TIMED_RUNS if spans is None else 3
    while len(ops) < min_ops or time.perf_counter() - t0 < args.seconds:
        traced = spans is not None and len(ops) % 2 == 1
        r = one_op(workload, len(ops), spans if traced else None)
        r["traced"] = traced
        ops.append(r)
    good = [r for r in ops if r["ok"]]
    failures = [r for r in warm + ops if not r["ok"]]
    for r in failures:
        print("FAILED:", r.get("error") or r.get("errors"), file=sys.stderr)
    attempted, failed = len(warm) + len(ops), len(failures)

    def e2e(rows):
        return {
            "docs_per_s": statistics.median(r["docs"] / r["wall"] for r in rows),
            "cpu_ms_per_doc": statistics.median(1000 * r["cpu"] / r["docs"] for r in rows),
        }

    metrics = {}
    if args.trace:
        plain = [r for r in good if not r["traced"]]
        traced = [r for r in good if r["traced"]]
        per_layer = layers.layer_pass(spark, workload, spans, session_start_s=args.session_start_s)
        if plain and traced:
            a, b = e2e(plain), e2e(traced)
            per_layer["trace.docs_per_s_delta"] = b["docs_per_s"] - a["docs_per_s"]
            per_layer["trace.cpu_ms_per_doc_delta"] = b["cpu_ms_per_doc"] - a["cpu_ms_per_doc"]
        attempted += per_layer.pop("_attempted")
        failed += per_layer.pop("_failures")
        for name, value in per_layer.items():
            metrics[name] = {"value": value, "unit": UNITS[name]}
    elif good:
        values = e2e(good)
        values["peak_rss_mb"] = args.rss.peak
        values["setup_s"] = setup_s
        for name, value in values.items():
            metrics[name] = {"value": value, "unit": UNITS[name]}
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")

    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    args.rss = RssSampler()
    args.rss.start()
    spark = None
    try:
        t0 = time.time()
        spark = start_session(workdir)
        args.session_start_s = time.time() - t0
        result = measure(spark, args, workdir, T_START)
    finally:
        args.rss.stop()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
