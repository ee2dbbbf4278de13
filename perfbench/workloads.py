"""Benchmark workloads: seeded inputs, one timed operation, output checks.

Every input is generated from the ``--seed`` argument and written to
parquet before any timing, so the program under test only ever sees
tables. A workload object exposes:

- ``prepare()``: untimed, makes the inputs of the next operation and
  sets ``documents``, ``registry`` and ``n_docs``;
- ``run(i)``: the timed operation, returning ``(docs_validated, handle)``;
- ``check(handle)``: the output checks, returning failure messages;
- ``cleanup(handle)``: untimed removal of what ``run`` wrote.
"""

from __future__ import annotations

import collections
import functools
import json
import operator
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from invoice_anomaly_detection_sieve_spark import datagen
from invoice_anomaly_detection_sieve_spark.operators import drift
from invoice_anomaly_detection_sieve_spark.plans import runner
from invoice_anomaly_detection_sieve_spark.sources.catalog import ParquetCatalog

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_PATH = os.path.join(HERE, "expected.json")

# (full, smoke) sizes. nightly_full keeps TPC-H sf0.1's shape at a size
# whose warm-up and timed runner.run calls fit the per-run budget: 10
# orders per customer, 1-7 lines per order, one planted clone per 997
# orders. hot_vendors keeps synthesize_documents' 10 media keys per
# partition, so pairs per doc grow with docs_per_part.
SIZES = {
    "nightly_full": {"full": {"orders": 24000}, "smoke": {"orders": 600}},
    "hot_vendors": {
        "full": {"n_parts": 6, "docs_per_part": 160},
        "smoke": {"n_parts": 6, "docs_per_part": 40},
    },
}

# nightly_full validates the corpus of seed % RECORDED_SEEDS, whose
# verdicts record_expected.py has written to expected.json
RECORDED_SEEDS = 64


def _write_tpch(root: str, n_orders: int, seed: int) -> None:
    """TPC-H-shaped ``orders`` and ``lineitem`` parquet with the columns
    ``datagen.docs_from_tpch`` reads, drawn from ``seed``. Ranges follow
    the dbgen tables: totals 1e3..5e5, order dates 1995-01..2001-08,
    parts = 2/15 of orders, quantities 1..50, return flag A/N/R."""
    rng = np.random.default_rng(seed)
    orderkey = np.arange(n_orders, dtype=np.int64)
    orders = pa.table({
        "o_orderkey": orderkey,
        "o_custkey": rng.integers(0, max(1, n_orders // 10), n_orders),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": (
            np.datetime64("1995-01-01") + rng.integers(0, 2404, n_orders)
        ).astype("datetime64[us]"),
    })
    n_lines = rng.integers(1, 8, n_orders)
    m = int(n_lines.sum())
    lineitem = pa.table({
        "l_orderkey": np.repeat(orderkey, n_lines),
        "l_partkey": rng.integers(0, max(1, n_orders * 2 // 15), m),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in n_lines]).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, m), 2),
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), m),
    })
    os.makedirs(root, exist_ok=True)
    pq.write_table(orders, os.path.join(root, "orders.parquet"))
    pq.write_table(lineitem, os.path.join(root, "lineitem.parquet"))


def verdict_rows(verdicts) -> dict:
    """Every verdict row the checks read, keyed by doc id, with ``h`` the
    row's xxhash64 over doc id, decision, reason codes, top match and the
    risk score rounded to 4 places."""
    row_hash = F.xxhash64(
        "doc_id", "decision", F.concat_ws(",", "reason_codes"),
        F.coalesce("top_match_doc_id", F.lit("")), F.round("risk_score", 4),
    )
    cols = ("doc_id", "decision", "reason_codes", "top_match_doc_id")
    return {r["doc_id"]: r for r in verdicts.select(*cols, row_hash.alias("h")).collect()}


def verdict_summary(rows: dict) -> dict:
    """Decision counts plus an order-independent digest (xor of the row
    hashes) of ``verdict_rows``."""
    counts = collections.Counter(r["decision"] for r in rows.values())
    digest = functools.reduce(operator.xor, (r["h"] for r in rows.values()), 0)
    return {"decisions": dict(sorted(counts.items())), "digest": f"{digest & (2**64 - 1):016x}"}


class Workload:
    """Shared shape: a documents table and a media registry in parquet,
    validated by ``runner.run`` into a fresh warehouse per operation."""

    name = ""

    def __init__(self, spark, workdir: str, seed: int, smoke: bool = False):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.smoke = smoke
        self.size = SIZES[self.name]["smoke" if smoke else "full"]
        self.corpora = 0

    def prepare(self) -> None:
        """Write the inputs of corpus ``self.corpora`` and advance the count."""
        docs, registry = self._make_inputs(self.corpora)
        root = os.path.join(self.workdir, "inputs", str(self.corpora))
        docs.write.mode("overwrite").parquet(os.path.join(root, "documents.parquet"))
        registry.write.mode("overwrite").parquet(os.path.join(root, "registry.parquet"))
        self.documents = self.spark.read.parquet(os.path.join(root, "documents.parquet"))
        self.registry = self.spark.read.parquet(os.path.join(root, "registry.parquet"))
        self.n_docs = self.documents.count()
        self.corpora += 1

    def _make_inputs(self, k: int):
        raise NotImplementedError

    def run(self, i: int):
        warehouse = os.path.join(self.workdir, f"warehouse-{i}")
        catalog = ParquetCatalog(self.spark, warehouse)
        metrics = runner.run(
            self.spark, self.documents, self.registry, catalog, run_id=f"it{i}"
        )
        return metrics["docs_validated"], (catalog, metrics)

    def check(self, handle) -> list[str]:
        catalog, metrics = handle
        failures = []
        if metrics["docs_validated"] != self.n_docs:
            failures.append(
                f"docs_validated {metrics['docs_validated']} != input rows {self.n_docs}"
            )
        rows = verdict_rows(runner.read_run_verdicts(catalog, metrics["run_id"]))
        return failures + self._check_outputs(catalog, metrics["run_id"], rows)

    def _check_outputs(self, catalog, run_id, rows) -> list[str]:
        raise NotImplementedError

    def cleanup(self, handle) -> None:
        shutil.rmtree(handle[0].root, ignore_errors=True)


class NightlyFull(Workload):
    """Whole-table run over a TPC-H-derived corpus (``docs_from_tpch``):
    about 1.4 candidate pairs per doc, so extraction, blocking and the
    scalar branches carry the docs-proportional work. Every operation
    re-validates the same corpus, the one of ``seed % RECORDED_SEEDS``."""

    name = "nightly_full"

    def prepare(self) -> None:
        if not self.corpora:
            super().prepare()

    def _make_inputs(self, k: int):
        tpch = os.path.join(self.workdir, "inputs", "tpch")
        _write_tpch(tpch, self.size["orders"], self.seed % RECORDED_SEEDS)
        return (
            datagen.docs_from_tpch(self.spark, tpch),
            datagen.registry_from_tpch(self.spark),
        )

    def _check_outputs(self, catalog, run_id, rows):
        failures = []
        # every planted clone ("...D") must name its original as top match
        # with the exact-number rule firing
        clones = [r for d, r in rows.items() if d.endswith("D")]
        if not clones:
            failures.append("no planted clone docs in the verdicts")
        for r in clones:
            if r["top_match_doc_id"] != r["doc_id"][:-1] or "EXACT_INVNUM" not in r["reason_codes"]:
                failures.append(f"planted clone {r['doc_id']} not matched: {r.asDict()}")
        if self.smoke:  # the smoke corpus has no recorded verdicts
            return failures
        with open(EXPECTED_PATH) as fh:
            expected = json.load(fh)["nightly_full"]
        if expected["orders"] != self.size["orders"]:
            return failures + [
                f"expected.json holds verdicts for {expected['orders']} orders, "
                f"the corpus has {self.size['orders']}"
            ]
        key = str(self.seed % RECORDED_SEEDS)
        recorded = expected["seeds"].get(key)
        summary = verdict_summary(rows)
        if recorded is None:
            failures.append(f"no recorded verdicts for corpus seed {key} in expected.json")
        elif summary != recorded:
            failures.append(f"verdicts differ from recorded corpus seed {key}: {summary} != {recorded}")
        return failures


class HotVendors(Workload):
    """Pair-heavy synthetic corpus (``synthesize_documents``): ten media
    keys per vendor partition put dozens of candidates on every doc, and
    each doc's ``lot{tag}`` descriptions are unique, so the pair kernel
    dominates the verdict DAG."""

    name = "hot_vendors"

    def _make_inputs(self, k: int):
        # a new corpus per operation: its media keys, hence its candidate
        # pairs and their description pairs, differ from every earlier
        # corpus, so the workers' Jaro-Winkler caches mostly miss
        docs, registry, self.expected = datagen.synthesize_documents(
            self.spark, seed=self.seed * 1000 + k, **self.size
        )
        return docs, registry

    def _check_outputs(self, catalog, run_id, rows):
        exp = self.expected
        planted = {d for pair in exp["dup_pairs"] for d in pair}
        for key in ("dangling", "fresh", "outliers", "dq_badsum", "dq_future"):
            planted |= set(exp[key])
        failures = []
        missing = planted - set(rows)
        if missing:
            return [f"planted docs missing from verdicts: {sorted(missing)}"]
        for a, b in exp["dup_pairs"]:
            if rows[a]["top_match_doc_id"] != b or rows[b]["top_match_doc_id"] != a:
                failures.append(f"planted duplicates {a},{b} are not each other's top match")
        wanted = {
            "dangling": "BANK_CHANGE", "fresh": "BANK_CHANGE",
            "outliers": "UNIT_PRICE_OUTLIER", "dq_badsum": "LINE_SUM_MISMATCH",
            "dq_future": "IMPLAUSIBLE_DATE",
        }
        for key, code in wanted.items():
            for d in exp[key]:
                if code not in rows[d]["reason_codes"]:
                    failures.append(f"planted {key} doc {d} lacks {code}: {rows[d]['reason_codes']}")
        part = exp["benford_part"]
        part_v = catalog.read("part_verdicts").where(
            (F.col("run_id") == run_id) & (F.col("part") == part)
        ).select("benford_fail").collect()
        wanted_fail = _benford_chi2(self.documents, part) > drift.BENFORD_CHI2_ALERT
        if not part_v or part_v[0]["benford_fail"] != wanted_fail:
            failures.append(f"Benford partition {part}: {part_v} != benford_fail={wanted_fail}")
        return failures


def _benford_chi2(documents, part: str) -> float:
    """Chi-square of the partition's leading amount digits against
    Benford's law, from the input spans. The planted partition draws
    uniform leading digits, which usually but not always clears the
    alert level, so its flag is checked against this statistic."""
    rows = documents.where(F.col("doc_id").startswith(f"{part}-")).select("spans").collect()
    digits = collections.Counter(
        next(c for c in span["text"] if c in "123456789")
        for row in rows for span in row["spans"] if span["kind"] == "amount"
    )
    n = sum(digits.values())
    return n * sum(
        (digits[str(d)] / n - e) ** 2 / e for d, e in zip(range(1, 10), drift.BENFORD_EXPECTED)
    )


WORKLOADS = {w.name: w for w in (NightlyFull, HotVendors)}
