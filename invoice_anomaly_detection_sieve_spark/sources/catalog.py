"""Parquet-backed table catalog with snapshot + merge semantics.

The north_rule targets Iceberg tables; this sandbox has no Iceberg runtime
jar, so the engine is format-agnostic behind this thin catalog exposing the
three Iceberg capabilities it actually uses (SURVEY.md §7.0):

- ``append(name, df)``      ≈ ``df.writeTo(t).append()``
- ``merge_upsert(...)``     ≈ ``MERGE INTO t USING s ON keys WHEN MATCHED
  UPDATE ... WHEN NOT MATCHED INSERT`` (S4/S5/S7/S11)
- snapshot manifest + ``read_since(snapshot)`` ≈ Iceberg incremental reads
  between snapshots (the checkpoint/resume story, SURVEY.md §2.9)

Layout per table: ``<root>/<name>/data/part-*.parquet`` plus
``<root>/<name>/snapshots/N.json`` manifests listing the files each
snapshot added. Appends write new files only (no rewrite); merge rewrites
the table into a fresh data generation and records a full snapshot.
On a real deployment this module is swapped for Iceberg catalog calls —
every caller goes through this API.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


class ParquetCatalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- paths -----------------------------------------------------------
    def _table_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _data_dir(self, name: str) -> str:
        return os.path.join(self._table_dir(name), "data")

    def _snap_dir(self, name: str) -> str:
        return os.path.join(self._table_dir(name), "snapshots")

    def exists(self, name: str) -> bool:
        d = self._data_dir(name)
        if not os.path.isdir(d):
            return False
        for _, _, files in os.walk(d):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def snapshots(self, name: str) -> list[dict]:
        d = self._snap_dir(name)
        if not os.path.isdir(d):
            return []
        # only committed manifests (N.json): a crash between writing the
        # .tmp and the rename leaves '.N.json.tmp' behind, and parsing it
        # as int('') would brick EVERY later operation on the table
        names = [f for f in os.listdir(d) if re.fullmatch(r"\d+\.json", f)]
        out = []
        for f in sorted(names, key=lambda x: int(x.split(".")[0])):
            with open(os.path.join(d, f)) as fh:
                out.append(json.load(fh))
        return out

    def latest_snapshot_id(self, name: str) -> int:
        snaps = self.snapshots(name)
        return snaps[-1]["id"] if snaps else 0

    def _meta_path(self, name: str) -> str:
        return os.path.join(self._table_dir(name), "meta.json")

    def table_meta(self, name: str) -> dict:
        """Table-level metadata (the Iceberg table-properties analog);
        carries ``bucket_spec`` = {keys, buckets} for bucketed layouts."""
        p = self._meta_path(name)
        if not os.path.isfile(p):
            return {}
        with open(p) as fh:
            return json.load(fh)

    def _write_meta(self, name: str, meta: dict) -> None:
        os.makedirs(self._table_dir(name), exist_ok=True)
        tmp = self._meta_path(name) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(meta, fh)
        os.rename(tmp, self._meta_path(name))

    def _record_snapshot(self, name: str, files: list[str], op: str) -> int:
        d = self._snap_dir(name)
        os.makedirs(d, exist_ok=True)
        sid = self.latest_snapshot_id(name) + 1
        manifest = {"id": sid, "op": op, "files": files, "ts": time.time()}
        tmp = os.path.join(d, f".{sid}.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.rename(tmp, os.path.join(d, f"{sid}.json"))
        return sid

    # -- operations ------------------------------------------------------
    def read(self, name: str) -> DataFrame:
        # appends land in gen-* subdirs; recursive lookup covers both layouts
        return self.spark.read.option("recursiveFileLookup", "true").parquet(
            self._data_dir(name)
        )

    def append(self, name: str, df: DataFrame) -> int:
        """Append-only write (S9/S10 decision + audit sinks): stage new
        files into a unique subdir, then manifest them as one snapshot."""
        gen = uuid.uuid4().hex[:12]
        out = os.path.join(self._data_dir(name), f"gen-{gen}")
        df.write.mode("overwrite").parquet(out)
        files = [
            os.path.join(f"gen-{gen}", f)
            for f in os.listdir(out)
            if f.endswith(".parquet")
        ]
        return self._record_snapshot(name, files, "append")

    def overwrite(self, name: str, df: DataFrame) -> int:
        gen = uuid.uuid4().hex[:12]
        staged = os.path.join(self._table_dir(name), f"stage-{gen}")
        df.write.mode("overwrite").parquet(staged)
        data = self._data_dir(name)
        backup = os.path.join(self._table_dir(name), f"old-{gen}")
        if os.path.isdir(data):
            os.rename(data, backup)
        os.rename(staged, data)
        # GC generations older than the one just retired: without it every
        # merge (profiles/cases run per validation) keeps a FULL copy of
        # the table forever — O(runs × size) storage. The newest backup is
        # kept one generation so an in-flight reader of the pre-swap files
        # is not yanked mid-scan.
        self._gc_generations(name, keep={f"old-{gen}", f"stage-{gen}"})
        files = [f for f in os.listdir(data) if f.endswith(".parquet")]
        meta = self.table_meta(name)
        if meta.pop("bucket_spec", None) is not None:  # layout destroyed
            self._write_meta(name, meta)
        return self._record_snapshot(name, files, "overwrite")

    def _gc_generations(self, name: str, keep: set[str]) -> None:
        """Remove retired ``old-*`` backups and orphaned ``stage-*``
        leftovers (crashed writes), except the names in ``keep``."""
        d = self._table_dir(name)
        for entry in os.listdir(d):
            if entry in keep:
                continue
            if entry.startswith("old-") or entry.startswith("stage-"):
                shutil.rmtree(os.path.join(d, entry), ignore_errors=True)

    def merge_upsert(
        self, name: str, source: DataFrame, keys: list[str], buckets: int | None = None
    ) -> int:
        """MERGE semantics (S4/S7): source rows replace same-key target
        rows; unmatched source rows insert. Implemented as anti-join +
        union + rewrite (what Iceberg copy-on-write MERGE does).

        ``buckets``: key-bucketed copy-on-write — the table is laid out as
        ``bucket=pmod(xxhash64(key), buckets)`` hive partitions and a merge
        rewrites ONLY the buckets the source touches (Iceberg's
        bucket-transform partitioning + merge-on-read compaction analog).
        A small update against a huge registry then costs O(touched
        buckets), not O(table) — the property that keeps S7 registry
        maintenance and streaming micro-batch merges viable at 10^12 docs.
        The full rewrite remains the default for small dimension tables.

        The bucket spec is PERSISTED in table metadata and validated on
        every merge: merging with a different bucket count (or into a
        table created non-bucketed) triggers a one-time full migration to
        the requested layout instead of silently skipping the anti-join
        and leaving stale same-key rows behind; merging with
        ``buckets=None`` into a bucketed table routes through the stored
        spec rather than flattening the layout.
        """
        meta = self.table_meta(name)
        stored = meta.get("bucket_spec")
        if buckets is None and stored and stored.get("keys") == keys:
            buckets = stored["buckets"]
        if buckets is not None:
            migrate = self.exists(name) and (
                stored is None
                or stored.get("keys") != keys
                or stored.get("buckets") != buckets
            )
            sid = self._merge_upsert_bucketed(name, source, keys, buckets, migrate)
            meta["bucket_spec"] = {"keys": keys, "buckets": buckets}
            self._write_meta(name, meta)
            return sid
        if not self.exists(name):
            return self.overwrite(name, source)
        target = self.read(name)
        if "_bucket" in target.columns:  # un-spec'd bucketed table: de-layout
            target = target.drop("_bucket")
        kept = target.join(source.select(*keys).distinct(), keys, "left_anti")
        merged = kept.unionByName(source, allowMissingColumns=True)
        return self.overwrite(name, merged)

    @staticmethod
    def _bucket_col(keys: list[str], buckets: int):
        from pyspark.sql import functions as F

        return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(buckets)).cast("int")

    def _merge_upsert_bucketed(
        self,
        name: str,
        source: DataFrame,
        keys: list[str],
        buckets: int,
        migrate: bool = False,
    ) -> int:
        """Bucketed MERGE (see ``merge_upsert``). Each touched bucket is
        written as one file (``_write_buckets``)."""
        src = source.withColumn("_bucket", self._bucket_col(keys, buckets))
        data = self._data_dir(name)
        if not self.exists(name):
            # a merge of an empty source leaves data/ holding no parquet
            # file (only _SUCCESS), which exists() reports as absent; clear
            # it so the rename below does not hit a non-empty directory
            shutil.rmtree(data, ignore_errors=True)
            gen = uuid.uuid4().hex[:12]
            staged = os.path.join(self._table_dir(name), f"stage-{gen}")
            self._write_buckets(src, staged)
            os.rename(staged, data)
            files = self._bucket_files(data)
            return self._record_snapshot(name, files, "merge-bucketed")
        if migrate:
            # layout mismatch (different bucket count, or a table written
            # non-bucketed): one-time full merge + rewrite into the
            # requested layout — every row lands in its correct bucket
            target = self.read(name)
            if "_bucket" in target.columns:
                target = target.drop("_bucket")
            kept = target.join(
                source.select(*keys).distinct(), keys, "left_anti"
            ).withColumn("_bucket", self._bucket_col(keys, buckets))
            merged = kept.unionByName(src, allowMissingColumns=True)
            gen = uuid.uuid4().hex[:12]
            staged = os.path.join(self._table_dir(name), f"stage-{gen}")
            self._write_buckets(merged, staged)
            backup = os.path.join(self._table_dir(name), f"old-{gen}")
            os.rename(data, backup)
            os.rename(staged, data)
            self._gc_generations(name, keep={f"old-{gen}"})
            return self._record_snapshot(
                name, self._bucket_files(data), "merge-bucketed-migrate"
            )
        # rewrite ONLY the touched buckets: anti-join within the bucket subset
        touched = [r["_bucket"] for r in src.select("_bucket").distinct().collect()]
        old_paths = [
            os.path.join(data, f"_bucket={b}")
            for b in touched
            if os.path.isdir(os.path.join(data, f"_bucket={b}"))
        ]
        if old_paths:
            target = self.spark.read.option("basePath", data).parquet(*old_paths)
            kept = target.drop("_bucket").join(
                source.select(*keys).distinct(), keys, "left_anti"
            ).withColumn("_bucket", self._bucket_col(keys, buckets))
            merged = kept.unionByName(src, allowMissingColumns=True)
        else:
            merged = src
        gen = uuid.uuid4().hex[:12]
        staged = os.path.join(self._table_dir(name), f"stage-{gen}")
        self._write_buckets(merged, staged)
        for b in touched:
            new_b = os.path.join(staged, f"_bucket={b}")
            old_b = os.path.join(data, f"_bucket={b}")
            if os.path.isdir(old_b):
                shutil.rmtree(old_b)
            if os.path.isdir(new_b):
                os.rename(new_b, old_b)
        shutil.rmtree(staged, ignore_errors=True)
        return self._record_snapshot(name, self._bucket_files(data), "merge-bucketed")

    def _write_buckets(self, df: DataFrame, path: str) -> None:
        """Write ``df`` partitioned by ``_bucket``, one file per bucket.
        Hash-repartitioning on the bucket puts each bucket in one task, and
        every core writes; the explicit partition count matters, because
        AQE coalesces a repartition without one into a single task."""
        n = self.spark.sparkContext.defaultParallelism
        df.repartition(n, "_bucket").write.partitionBy("_bucket").mode(
            "overwrite"
        ).parquet(path)

    def _bucket_files(self, data: str) -> list[str]:
        out = []
        for root, _, files in os.walk(data):
            for f in files:
                if f.endswith(".parquet"):
                    out.append(os.path.relpath(os.path.join(root, f), data))
        return sorted(out)

    def read_bucketed(self, name: str) -> DataFrame:
        """Read a bucket-partitioned table (drops the layout column)."""
        return self.read(name).drop("_bucket")

    def read_buckets(self, name: str, bucket_ids: list[int]) -> DataFrame | None:
        """Read ONLY the given buckets of a bucket-partitioned table —
        manual partition pruning (the Iceberg bucket-transform scan-prune
        analog). Returns None when none of the buckets exist yet."""
        data = self._data_dir(name)
        paths = [
            os.path.join(data, f"_bucket={b}")
            for b in bucket_ids
            if os.path.isdir(os.path.join(data, f"_bucket={b}"))
        ]
        if not paths:
            return None
        return self.spark.read.option("basePath", data).parquet(*paths).drop("_bucket")

    def read_since(
        self, name: str, snapshot_id: int, until: int | None = None
    ) -> DataFrame:
        """Incremental read: rows appended strictly after ``snapshot_id``
        (Iceberg incremental-scan analog; powers resumable runs).

        ``until`` pins the upper bound: snapshots newer than it are left
        for the next run. Without it, an append committed between a
        caller's ``latest_snapshot_id()`` and this scan would be consumed
        now but recorded under the older id — and re-validated next run.

        An incremental range is only well-defined over APPEND snapshots
        (Iceberg's incremental scan has the same restriction): a rewrite
        (overwrite/merge) in the range both introduces rows no append
        carries and swaps+GCs the data files earlier appends reference.
        Crossing one falls back to the FULL state as of the upper bound —
        rows are re-validated rather than silently skipped."""
        snaps = self.snapshots(name)
        in_range = [
            s for s in snaps
            if s["id"] > snapshot_id and (until is None or s["id"] <= until)
        ]
        if any(s["op"] != "append" for s in in_range):
            bound = until if until is not None else max(s["id"] for s in in_range)
            return self.read_as_of(name, bound)
        if in_range and until is not None and any(
            s["op"] != "append" and s["id"] > until for s in snaps
        ):
            # a rewrite AFTER the pinned bound swapped + GC'd the data
            # files these in-range appends reference: the requested slice
            # of history no longer exists on disk. Fail with the remedy
            # instead of a PATH_NOT_FOUND mid-scan.
            raise ValueError(
                f"table '{name}': snapshots ({snapshot_id}, {until}] predate a "
                "later rewrite and their files were garbage-collected; "
                "re-read from the current state (read_as_of the latest "
                "snapshot) instead of an incremental range"
            )
        newer: list[str] = []
        for snap in in_range:
            newer.extend(snap["files"])
        if not newer:
            return self.read(name).limit(0)
        paths = [os.path.join(self._data_dir(name), f) for f in newer]
        return self.spark.read.parquet(*paths)

    def read_as_of(self, name: str, snapshot_id: int) -> DataFrame:
        """Table state at ``snapshot_id`` (Iceberg time-travel analog):
        the latest full rewrite at or before it plus every append after
        that rewrite. Pins a first incremental run's full scan to the
        snapshot its ledger will record, so concurrent appends are not
        silently swallowed into an older bookmark."""
        snaps = [s for s in self.snapshots(name) if s["id"] <= snapshot_id]
        base = 0
        for s in snaps:
            if s["op"] != "append":
                base = s["id"]
        files = [
            f
            for s in snaps
            if s["id"] == base or (s["id"] > base and s["op"] == "append")
            for f in s["files"]
        ]
        if not files:
            return self.read(name).limit(0)
        paths = [os.path.join(self._data_dir(name), f) for f in files]
        return self.spark.read.parquet(*paths)
