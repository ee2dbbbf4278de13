"""Record the nightly_full verdict summaries that ``run.py`` checks.

    python3 perfbench/record_expected.py 0 64

Validates the nightly_full corpus of every seed in ``[first, last)`` once
and writes each seed's decision counts and verdict digest to
``expected.json`` (keyed by the corpus size). ``run.py`` checks seed
``s`` against the entry of ``s % workloads.RECORDED_SEEDS``, and fails
when it is missing. Re-record only when a change is meant to alter
verdicts; a performance change must leave these values as they are.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run

sys.path.insert(0, run.ROOT)

import workloads  # noqa: E402
from invoice_anomaly_detection_sieve_spark.plans import runner  # noqa: E402


def main(first: int, last: int) -> None:
    workdir = os.path.join(run.ROOT, ".perfbench_work", f"record-{os.getpid()}")
    spark = run.start_session(workdir)
    try:
        with open(workloads.EXPECTED_PATH) as fh:
            expected = json.load(fh)["nightly_full"]
        orders = workloads.SIZES["nightly_full"]["full"]["orders"]
        if expected["orders"] != orders:
            expected = {"orders": orders, "seeds": {}}
        for seed in range(first, last):
            w = workloads.NightlyFull(spark, os.path.join(workdir, str(seed)), seed)
            w.prepare()
            _, (catalog, metrics) = w.run(0)
            rows = workloads.verdict_rows(runner.read_run_verdicts(catalog, metrics["run_id"]))
            summary = workloads.verdict_summary(rows)
            expected["seeds"][str(seed)] = summary
            print(seed, summary, flush=True)
            shutil.rmtree(os.path.join(workdir, str(seed)), ignore_errors=True)
        expected["seeds"] = dict(sorted(expected["seeds"].items(), key=lambda kv: int(kv[0])))
        with open(workloads.EXPECTED_PATH, "w") as fh:
            json.dump({"nightly_full": expected}, fh, indent=1)
            fh.write("\n")
    finally:
        run.stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    main(int(sys.argv[1]), int(sys.argv[2]))
