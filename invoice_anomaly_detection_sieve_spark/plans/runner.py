"""Resumable validation runner: ledger, checkpoint/resume, CLI entry.

The reference's batch path re-scores every invoice serially and leans on
upsert idempotency for replay safety (scripts/backfill_score.py:16-38,
OPS-002 requirements.md:325). Here a run is one Spark job over the table;
the per-partition ledger (≈ audit_log, app/schema.sql:110-118) records
(run_id, part, rows scanned, constraints evaluated, violations, the run's
wall time) and **resume skips partitions already completed for the
run_id**.

Delivery semantics — stated precisely: sink appends are **at-least-once**.
The sinks (verdicts, violations, partition verdicts, the profile merge and
case routing) commit at the same time, on one thread each, once the
verdicts are materialized; the ledger append still commits LAST, after
every sink has committed. A crash or a failed sink before the ledger
append leaves those partitions unledgered; the resume re-validates and
re-appends them. Re-runs after a fully committed run are exact no-ops
(every partition ledgered ⇒ nothing pending). Readers that need
exactly-once rows use ``read_run_verdicts`` / ``read_run_violations``,
which collapse retry duplicates on their natural keys — the same
idempotent-upsert-on-read contract the reference relies on.

Deploy: ``spark-submit --py-files sieve_spark.zip -m
invoice_anomaly_detection_sieve_spark.plans.runner <args>``.
"""

from __future__ import annotations

import argparse
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.util import inheritable_thread_target

from ..documents import part_of
from ..schema import LEDGER
from ..sources.catalog import ParquetCatalog
from . import validate as V

LEDGER_TABLE = "ledger"
COMPLETE = "COMPLETE"


def completed_parts(catalog: ParquetCatalog, run_id: str) -> DataFrame | None:
    if not catalog.exists(LEDGER_TABLE):
        return None
    led = catalog.read(LEDGER_TABLE)
    return (
        led.where((F.col("run_id") == run_id) & (F.col("status") == COMPLETE))
        .select("part")
        .distinct()
    )


def read_run_verdicts(catalog: ParquetCatalog, run_id: str) -> DataFrame:
    """Exactly-once view of a run's verdicts: appends are at-least-once
    under crash/resume (see module docstring), so collapse retries on the
    natural key (run_id, doc_id)."""
    v = catalog.read("doc_verdicts").where(F.col("run_id") == run_id)
    return v.dropDuplicates(["run_id", "doc_id"])


def read_run_violations(catalog: ParquetCatalog, run_id: str) -> DataFrame:
    """Exactly-once view of a run's violation rows (key: run_id, doc_id,
    reason_code)."""
    v = catalog.read("violations").where(F.col("run_id") == run_id)
    return v.dropDuplicates(["run_id", "doc_id", "reason_code"])


def last_consumed_snapshot(catalog: ParquetCatalog) -> int:
    """Highest documents-table snapshot id a COMPLETE ledgered run has
    consumed (0 when no incremental run has happened yet)."""
    if not catalog.exists(LEDGER_TABLE):
        return 0
    # mergeSchema: ledgers written before the column existed mix with new
    # appends; the merged schema nulls the old rows instead of dropping
    # the column when an old footer wins schema inference
    led = catalog.spark.read.option("recursiveFileLookup", "true").option(
        "mergeSchema", "true"
    ).parquet(catalog._data_dir(LEDGER_TABLE))
    if "consumed_snapshot_id" not in led.columns:
        return 0
    row = (
        led.where(F.col("status") == COMPLETE)
        .agg(F.max("consumed_snapshot_id"))
        .first()
    )
    return int(row[0] or 0)


def run_incremental(
    spark: SparkSession,
    catalog: ParquetCatalog,
    documents_table: str,
    media_registry: DataFrame,
    source_catalog: ParquetCatalog | None = None,
    since_snapshot: int | None = None,
    **run_kwargs,
) -> dict:
    """Validate only the documents appended since the last COMPLETE
    incremental run (OPS-002 requirements.md:325; the Iceberg
    incremental-scan story, scripts/backfill_score.py:16-38).
    ``since_snapshot`` overrides the ledger bookmark — an explicit
    replay-from-snapshot for backfills (0 = full table).

    The documents table lives in ``source_catalog`` (default: the output
    catalog). Snapshot bookkeeping: each run's ledger rows carry the
    documents-table snapshot id it consumed; the next run reads
    ``read_since(max consumed id)``. A first-ever incremental run (no
    consumed id on record) validates the FULL table, so overwrite-created
    tables are covered. When no snapshot is newer, the run is a no-op —
    nothing is scanned, appended, or ledgered.
    """
    src = source_catalog or catalog
    current = src.latest_snapshot_id(documents_table)
    since = (
        since_snapshot
        if since_snapshot is not None
        else last_consumed_snapshot(catalog)
    )
    if current <= since:
        return {
            "run_id": None,
            "docs_validated": 0,
            "no_op": True,
            "snapshot_since": since,
            "snapshot_consumed": since,
            "wall_time_sec": 0.0,
            "docs_per_sec": 0.0,
            "parts_skipped_resume": 0,
        }
    # both reads are pinned to `current`: an append committed after the
    # latest_snapshot_id() call above is left for the NEXT run instead of
    # being validated now but bookmarked under the older id (which would
    # re-validate those docs forever)
    docs = (
        src.read_as_of(documents_table, current)
        if since == 0
        else src.read_since(documents_table, since, until=current)
    )
    metrics = run(
        spark, docs, media_registry, catalog,
        consumed_snapshot_id=current, **run_kwargs,
    )
    metrics["no_op"] = False
    metrics["snapshot_since"] = since
    metrics["snapshot_consumed"] = current
    return metrics


def _commit_sinks(
    catalog: ParquetCatalog,
    run_id: str,
    verdicts: DataFrame,
    violations: DataFrame,
    part_verdicts: DataFrame,
    profiles: DataFrame,
    cases_ts: str,
) -> None:
    """Write every per-run sink except the ledger, all at the same time:
    they read the materialized verdicts and write separate tables, so the
    stage costs about as much as its slowest sink. Returns once every sink
    has finished, then raises the first failure, so the caller appends
    the ledger only after all of them committed. ``cases_ts`` stamps the
    cases this run opens."""
    from . import cases as C

    tag = F.lit(run_id)
    sinks = [
        lambda: C.route_cases(catalog, verdicts, cases_ts),  # the longest goes first
        lambda: catalog.append("doc_verdicts", verdicts.withColumn("run_id", tag)),
        lambda: catalog.append("violations", violations.withColumn("run_id", tag)),
        lambda: catalog.append("part_verdicts", part_verdicts.withColumn("run_id", tag)),
        lambda: catalog.merge_upsert(
            "profiles", profiles.withColumn("run_id", tag), ["part", "field"]
        ),
    ]
    # copies this thread's job group, other local properties and session
    # tags to the thread that runs the sink
    inherit = inheritable_thread_target(catalog.spark)
    with ThreadPoolExecutor(max_workers=len(sinks)) as pool:
        futures = [pool.submit(inherit(s)) for s in sinks]
    for f in futures:  # the with-block waited for all of them
        f.result()


def run(
    spark: SparkSession,
    documents: DataFrame,
    media_registry: DataFrame,
    catalog: ParquetCatalog,
    run_id: str | None = None,
    config: V.ValidationConfig | None = None,
    baseline_profiles: DataFrame | None = None,
    run_ts: str | None = None,
    consumed_snapshot_id: int | None = None,
) -> dict:
    """Execute (or resume) a validation run; write all outputs through the
    catalog. Thresholds read from a configs table (S12) arrive as
    ``config=apply_config_table(cfg, configs)``. HOLD/REVIEW verdicts open
    cases with an SLA (D4), stamped ``run_ts`` (``yyyy-MM-dd HH:mm:ss``,
    UTC; default: the run's start). Returns run metrics."""
    run_id = run_id or f"run_{uuid.uuid4().hex[:12]}"
    run_ts = run_ts or datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
    cfg = config or V.ValidationConfig()

    done = completed_parts(catalog, run_id)
    pending = documents
    skipped = 0
    if done is not None:
        n_done = done.count()
        if n_done:
            pending = documents.withColumn("_part", part_of(F.col("doc_id"))).join(
                done.withColumnRenamed("part", "_part"), "_part", "left_anti"
            ).drop("_part")
            skipped = n_done

    t0 = time.time()
    out = V.run_validation(pending, media_registry, baseline_profiles, cfg)
    # cached before the verdicts so their plan reads it: the Benford stats
    # of part_verdicts and the profiles merge then reuse the aggregation
    # the verdict count already ran
    profiles = out["profiles"].cache()
    verdicts = out["doc_verdicts"].cache()
    part_v = out["part_verdicts"].cache()
    try:
        n_docs = verdicts.count()  # materialize once; everything below reuses it
        parts, schema = [], LEDGER
        if n_docs:
            _commit_sinks(
                catalog, run_id, verdicts, out["violations"], part_v, profiles, run_ts,
            )
            elapsed = time.time() - t0
            parts = part_v.select("part", "n_docs", "n_violations").collect()
        elif consumed_snapshot_id is not None:
            # an increment can be empty (snapshot advanced, zero rows — e.g.
            # an empty append): still ledger the consumed snapshot id, or
            # every later incremental run re-reads the same empty increment
            # forever because the bookmark never advances
            elapsed = time.time() - t0
            parts = [(None, 0, 0)]
            schema = T.StructType([T.StructField(f.name, f.dataType) for f in LEDGER])
        # ledger rows are built on the driver and handed to Spark as data
        # (through Arrow; a list of tuples would start a Python worker task):
        # as a projection over part_v, F.lit(elapsed) (a double, and the
        # snapshot id, a long) would be inlined into generated Java source,
        # so every run would compile a new class. Constant folding defeats
        # the F.lit(str(x)).cast("double") way round it.
        if parts:
            rows = pd.DataFrame(
                [
                    # the RUN's elapsed wall time stamped on every partition
                    # row (not a per-partition figure — Spark doesn't expose
                    # per-task wall time to the plan; the column name says
                    # what it is). consumed_snapshot_id is the documents-
                    # table snapshot an incremental run consumed, NULL for
                    # plain DataFrame runs.
                    (run_id, part, n, list(cfg.constraints), n_viol,
                     float(elapsed), COMPLETE, consumed_snapshot_id)
                    for part, n, n_viol in parts
                ],
                columns=schema.names,
            )
            catalog.append(LEDGER_TABLE, spark.createDataFrame(rows, schema).coalesce(1))
        elapsed = time.time() - t0
    finally:
        # Drop the run's caches, the extraction included, on failure too: a
        # later resume run over the same table paths would otherwise
        # plan-match these entries and silently reuse the PREVIOUS run's
        # pending-partition subset.
        for df in (part_v, verdicts, profiles, out["extracted_docs"]):
            df.unpersist()
    return {
        "run_id": run_id,
        "docs_validated": n_docs,
        "parts_skipped_resume": skipped,
        "wall_time_sec": elapsed,
        "docs_per_sec": (n_docs / elapsed) if elapsed > 0 else 0.0,
    }


def main(argv: list[str] | None = None) -> None:
    from ..session import get_spark

    p = argparse.ArgumentParser(description="sieve-spark validation run")
    p.add_argument("--documents", default=None, help="parquet path of the documents table")
    p.add_argument("--documents-table", default=None,
                   help="catalog table name of the documents table (for --incremental)")
    p.add_argument("--incremental", action="store_true",
                   help="validate only documents appended since the last "
                        "COMPLETE incremental run (no-op when nothing is new)")
    p.add_argument("--since-snapshot", type=int, default=None, metavar="ID",
                   help="with --incremental: replay from this documents-table "
                        "snapshot id instead of the ledger bookmark (0 = full)")
    p.add_argument("--registry", required=True, help="parquet path of the media registry")
    p.add_argument("--warehouse", required=True, help="catalog root for outputs")
    p.add_argument("--run-id", default=None)
    p.add_argument("--cores", default=None)
    p.add_argument("--dup-model", default=None, metavar="PATH",
                   help="trained duplicate-model JSON artifact "
                        "(plans/train.py save_duplicate_model); absent or "
                        "missing file scores with the fallback weights, "
                        "like the reference's DUP_MODEL_PATH")
    p.add_argument("--drift-fields", default="total", metavar="F1,F2",
                   help="comma-separated numeric doc fields to drift-check "
                        "per partition; 'total' always runs (it drives "
                        "risk fusion), extras surface FIELD_DRIFT_<FIELD> "
                        "reason codes")
    args = p.parse_args(argv)

    spark = get_spark("sieve-validate", cores=args.cores)
    catalog = ParquetCatalog(spark, args.warehouse)
    registry = spark.read.parquet(args.registry)
    cfg_kwargs = {}
    if args.dup_model:
        from .train import load_duplicate_model

        cfg_kwargs["dup_model"] = load_duplicate_model(args.dup_model)
    drift_fields = tuple(
        f.strip() for f in args.drift_fields.split(",") if f.strip()
    )
    if drift_fields != ("total",):
        cfg_kwargs["drift_fields"] = drift_fields
    config = V.ValidationConfig(**cfg_kwargs) if cfg_kwargs else None
    if args.incremental:
        if not args.documents_table:
            p.error("--incremental requires --documents-table")
        metrics = run_incremental(
            spark, catalog, args.documents_table, registry, run_id=args.run_id,
            since_snapshot=args.since_snapshot, config=config,
        )
    else:
        if not args.documents:
            p.error("--documents is required without --incremental")
        documents = spark.read.parquet(args.documents)
        metrics = run(spark, documents, registry, catalog, run_id=args.run_id,
                      config=config)
    print(metrics)


if __name__ == "__main__":
    main()
