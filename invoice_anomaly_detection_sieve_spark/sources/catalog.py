"""Parquet-backed table catalog with snapshot + merge semantics.

The north_rule targets Iceberg tables; this sandbox has no Iceberg runtime
jar, so the engine is format-agnostic behind this thin catalog exposing the
three Iceberg capabilities it actually uses (SURVEY.md §7.0):

- ``append(name, df)``      ≈ ``df.writeTo(t).append()``
- ``merge_upsert(name, s, keys, on_match=...)`` ≈ ``MERGE INTO t USING s
  ON keys WHEN MATCHED UPDATE SET ... WHEN NOT MATCHED INSERT``
  (S4/S5/S7/S11); ``on_match`` is the SET list for columns whose stored
  value also depends on the target row's
- snapshot manifest + ``read_since(snapshot)`` ≈ Iceberg incremental reads
  between snapshots (the checkpoint/resume story, SURVEY.md §2.9)

Layout per table: ``<root>/<name>/data/part-*.parquet`` plus
``<root>/<name>/snapshots/N.json`` manifests listing the files each
snapshot added. Appends write new files only (no rewrite); a merge
rewrites the table into a fresh data generation, or, on a key-bucketed
table, only the ``data/_bucket=N`` directories the source touches, and
records a full snapshot. Only this module knows the bucket layout.
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
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


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
        return self._scan(self._data_dir(name))

    def _scan(self, *paths: str) -> DataFrame:
        # appends land in gen-* subdirs and buckets in _bucket=* subdirs;
        # recursive lookup covers every layout and turns partition
        # discovery off, so no _bucket column is ever read
        return self.spark.read.option("recursiveFileLookup", "true").parquet(*paths)

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
        return self._swap(name, df, None, "overwrite")

    def _swap(self, name: str, df: DataFrame, spec: dict | None, op: str) -> int:
        """Write ``df`` as a new data generation (bucketed by ``spec``, see
        ``merge_upsert``) and swap it in for the whole table."""
        gen = uuid.uuid4().hex[:12]
        staged = os.path.join(self._table_dir(name), f"stage-{gen}")
        self._write(df, staged, spec)
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
        self._gc_generations(name, keep={f"old-{gen}"})
        self._set_spec(name, spec)
        return self._record_snapshot(name, self._files(data), op)

    def _rewrite_buckets(self, name: str, df: DataFrame, spec: dict) -> int:
        """Write ``df`` bucketed by ``spec`` and move each bucket it holds
        over the table's copy of that bucket; files of the other buckets
        stay as they are. Creates the table when it is absent."""
        gen = uuid.uuid4().hex[:12]
        staged = os.path.join(self._table_dir(name), f"stage-{gen}")
        self._write(df, staged, spec)
        data = self._data_dir(name)
        os.makedirs(data, exist_ok=True)
        for b in os.listdir(staged):
            if b.startswith("_bucket="):
                shutil.rmtree(os.path.join(data, b), ignore_errors=True)
                os.rename(os.path.join(staged, b), os.path.join(data, b))
        shutil.rmtree(staged, ignore_errors=True)
        self._set_spec(name, spec)
        return self._record_snapshot(name, self._files(data), "merge-bucketed")

    def _set_spec(self, name: str, spec: dict | None) -> None:
        meta = self.table_meta(name)
        if meta.get("bucket_spec") != spec:
            if spec is None:
                del meta["bucket_spec"]
            else:
                meta["bucket_spec"] = spec
            self._write_meta(name, meta)

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
        self,
        name: str,
        source: DataFrame,
        keys: list[str],
        buckets: int | None = None,
        on_match: dict[str, Callable[[Column, Column], Column]] | None = None,
    ) -> int:
        """MERGE semantics (S4/S7): source rows replace same-key target
        rows; unmatched source rows insert. Implemented as one full outer
        join on the keys + rewrite (what Iceberg copy-on-write MERGE does).

        ``on_match`` maps a column to ``fn(new, old) -> Column``, the value
        the source row stores (``WHEN MATCHED UPDATE SET``): ``old`` is the
        target row's value, NULL when the key is new. Columns it does not
        name take the source's value.

        ``buckets``: key-bucketed copy-on-write — the table is laid out as
        ``_bucket=pmod(xxhash64(keys), buckets)`` directories, one file
        each, and a merge reads and rewrites ONLY the buckets the source
        touches (Iceberg's bucket-transform partitioning analog). A small
        update against a huge table then costs O(touched buckets), not
        O(table). The full rewrite remains the default for small tables.

        The bucket spec is PERSISTED in table metadata and validated on
        every merge: merging with a different bucket count (or into a
        table created non-bucketed) reads the whole table and migrates it
        to the requested layout, so no stale same-key row is left behind;
        merging with ``buckets=None`` into a bucketed table routes through
        the stored spec rather than flattening the layout.
        """
        stored = self.table_meta(name).get("bucket_spec")
        if buckets is None and stored and stored["keys"] == keys:
            spec = stored
        else:
            spec = None if buckets is None else {"keys": keys, "buckets": buckets}
        exists = self.exists(name)
        in_place = spec is not None and (stored == spec or not exists)
        # 1. the target rows the source can match; none on create, where
        # the optimizer drops the empty side of the join below
        prior = source.limit(0)
        if in_place and exists:
            data = self._data_dir(name)
            touched = source.select(self._bucket_col(keys, spec["buckets"])).distinct()
            paths = [os.path.join(data, f"_bucket={r[0]}") for r in touched.collect()]
            paths = [p for p in paths if os.path.isdir(p)]
            if paths:
                prior = self._scan(*paths)
        elif exists:
            prior = self.read(name)
        # 2. one outer join on the keys: a key the source holds stores the
        # source row, any other key keeps its prior row
        merged = self._merge_rows(source, prior, keys, on_match or {})
        # 3. rewrite the touched buckets, or swap in the whole table
        if in_place:
            return self._rewrite_buckets(name, merged, spec)
        op = "overwrite" if spec is None else "merge-bucketed-migrate"
        return self._swap(name, merged, spec, op)

    @staticmethod
    def _merge_rows(
        source: DataFrame, prior: DataFrame, keys: list[str], on_match: dict
    ) -> DataFrame:
        """``prior`` rows whose keys the source lacks plus the source rows
        after ``on_match``, by name; a column only one side has is NULL on
        the other side's rows. Columns keep ``prior``'s order, then the
        source-only ones."""
        olds = [c for c in prior.columns if c not in keys]
        # NO broadcast: the target is O(history) (cases, registry);
        # shuffle_hash keys both sides on the merge keys
        joined = source.withColumn("_new", F.lit(True)).join(
            prior.select(*keys, *[F.col(c).alias(f"_old_{c}") for c in olds])
            .hint("shuffle_hash"),
            keys, "full_outer",
        )
        is_new = F.col("_new").isNotNull()

        def old(c):
            if c in olds:
                return F.col(f"_old_{c}")
            return F.lit(None).cast(source.schema[c].dataType)

        def value(c):
            if c in keys:
                return F.col(c)
            if c not in source.columns:
                return F.when(~is_new, old(c))
            new = on_match[c](F.col(c), old(c)) if c in on_match else F.col(c)
            return F.when(is_new, new).otherwise(old(c))

        cols = prior.columns + [c for c in source.columns if c not in prior.columns]
        return joined.select(*[value(c).alias(c) for c in cols])

    @staticmethod
    def _bucket_col(keys: list[str], buckets: int):
        return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(buckets)).cast("int")

    def _write(self, df: DataFrame, path: str, spec: dict | None) -> None:
        """Write ``df`` to ``path``; with a bucket ``spec``, partitioned by
        ``_bucket``, one file per bucket. Hash-repartitioning on the bucket
        puts each bucket in one task, and every core writes; the explicit
        partition count matters, because AQE coalesces a repartition
        without one into a single task."""
        if spec is None:
            df.write.mode("overwrite").parquet(path)
            return
        n = self.spark.sparkContext.defaultParallelism
        df.withColumn("_bucket", self._bucket_col(spec["keys"], spec["buckets"])).repartition(
            n, "_bucket"
        ).write.partitionBy("_bucket").mode("overwrite").parquet(path)

    def _files(self, data: str) -> list[str]:
        out = []
        for root, _, files in os.walk(data):
            for f in files:
                if f.endswith(".parquet"):
                    out.append(os.path.relpath(os.path.join(root, f), data))
        return sorted(out)

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
