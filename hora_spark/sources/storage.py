"""SnapshotStore — versioned table commits (the dump/load analog).

hora serializes the entire index to ONE bincode file and reloads it
all-or-nothing (/root/reference/src/index/hnsw_idx.rs:688-719 dump,
:647-686 load; trait at /root/reference/src/core/ann_index.rs:147-157).
The distributed upgrade required by the north_rule: every build commits a
SNAPSHOT — an immutable manifest listing the parquet files of each logical
table (segments, lineage, stats) — and a restarted build resumes from the
last committed snapshot by anti-joining completed work out of the plan.

Layout (works on any Hadoop-compatible FS — local dir, file:/, HDFS, S3A):

    <root>/data/<table>/<uuid>/part-*.parquet     immutable data dirs
    <root>/snapshots/v00000001.json               manifest per commit
    <root>/snapshots/CURRENT                      advisory pointer

A manifest maps table name → list of data dirs. Commits publish via
write-temp + FileSystem.rename. On filesystems with atomic rename that
refuses an existing destination (local FS — verified live — and HDFS),
two concurrent committers cannot both publish the same version: the loser
gets a RuntimeError. S3A's rename is a non-atomic copy, so there the
race guard is BEST-EFFORT only — run S3A deployments with a single
writer per index (or an external lock); data dirs themselves are always
immutable either way. The CURRENT file is advisory/human-readable only;
the source of truth for `current_version` is the manifest listing, so a
torn/missing pointer can never mis-resolve the head. `read(table,
version)` gives time travel (`VERSION AS OF` semantics).

Filesystem scope: DATA dirs go through Spark readers/writers and ALL
manifest I/O + `expire_snapshots` GC go through the Hadoop FileSystem API
resolved from the root path's scheme — the store runs on HDFS/S3A
unchanged (round-4 closes the r3 caveat that manifests were os/json/shutil
local-only), with the concurrent-commit guarantee scoped as above.

Iceberg mapping (not implemented here — the sandbox has no Iceberg runtime
jars; this store IS the same shape): each logical table becomes a real
Iceberg table (`write_table`/`commit` → `df.writeTo(t).append()` or
`.overwritePartitions()`, one engine commit per Iceberg snapshot),
`current_version`/`read(version=)` → Iceberg snapshot ids + `VERSION AS
OF`, `meta` → table properties, `drop` → `DROP TABLE`. The engine only
touches this class's methods, so the swap is local to this file.
"""

from __future__ import annotations

import json
import uuid
import warnings

from pyspark.sql import DataFrame, SparkSession

# schemes whose rename is a non-atomic copy (object stores): the
# concurrent-commit race guard is best-effort there — single writer per
# index (or an external lock) is the documented deployment contract
_NONATOMIC_RENAME_SCHEMES = ("s3a", "s3", "s3n", "gs", "wasb", "wasbs", "abfs", "abfss")


def _warn_if_nonatomic_rename(root: str) -> None:
    scheme = root.split("://", 1)[0].lower() if "://" in root else ""
    if scheme in _NONATOMIC_RENAME_SCHEMES:
        warnings.warn(
            f"SnapshotStore root {root!r} uses scheme '{scheme}', whose "
            "rename is a non-atomic copy: the concurrent-commit race guard "
            "is BEST-EFFORT only. Run a single writer per index (or hold an "
            "external lock around commits).",
            RuntimeWarning,
            stacklevel=3,
        )


class SnapshotStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        _warn_if_nonatomic_rename(self.root)
        sc = spark.sparkContext
        self._P = sc._jvm.org.apache.hadoop.fs.Path
        self._IOUtils = sc._jvm.org.apache.commons.io.IOUtils
        self._fs = self._resolve_fs(sc)
        self._fs.mkdirs(self._P(f"{self.root}/snapshots"))
        self._fs.mkdirs(self._P(f"{self.root}/data"))
        # committed manifests are IMMUTABLE (the rename is the commit
        # point), so they are cached after the first read: the query path
        # resolves meta/tables several times per call, and each uncached
        # resolution is a py4j FileSystem open+read round trip
        self._manifest_cache: dict[int, dict] = {}
        # reader memo keyed by the exact data-dir list: data dirs are
        # immutable too, so the (file listing + schema inference) that
        # spark.read.parquet performs per call is paid once per snapshot
        # rather than once per query. Plans, not data — nothing is
        # persisted/cached executor-side.
        self._df_cache: dict[tuple[str, ...], DataFrame] = {}
        self._bytes_cache: dict[tuple[str, ...], int] = {}
        self._deleted_cache: dict[tuple[str, ...], object] = {}

    def _resolve_fs(self, sc):
        """Hadoop FileSystem for the root's scheme (factored out so tests
        can stub object-store schemes the sandbox has no jars for)."""
        return self._P(self.root).getFileSystem(sc._jsc.hadoopConfiguration())

    # ------------------------------------------------------- fs helpers --
    def _read_text(self, path: str) -> str:
        ins = self._fs.open(self._P(path))
        try:
            return bytes(self._IOUtils.toByteArray(ins)).decode("utf-8")
        finally:
            ins.close()

    def _write_text(self, path: str, data: str, overwrite: bool = True) -> None:
        out = self._fs.create(self._P(path), overwrite)
        try:
            out.write(bytearray(data.encode("utf-8")))
        finally:
            out.close()

    def _snapshot_versions(self) -> list[int]:
        d = self._P(f"{self.root}/snapshots")
        if not self._fs.exists(d):
            return []
        out = []
        for st in self._fs.listStatus(d):
            n = st.getPath().getName()
            if n.startswith("v") and n.endswith(".json"):
                try:
                    out.append(int(n[1:-5]))
                except ValueError:
                    pass
        return sorted(out)

    # ------------------------------------------------------------- reads --
    def current_version(self) -> int:
        """Newest committed manifest. Derived from the manifest LISTING,
        not the CURRENT pointer: the manifest rename is the commit point,
        so the listing can never be ahead of or behind a torn pointer."""
        vs = self._snapshot_versions()
        return vs[-1] if vs else 0

    def _manifest(self, version: int) -> dict:
        if version == 0:
            return {"tables": {}}
        cached = self._manifest_cache.get(version)
        if cached is None:
            p = f"{self.root}/snapshots/v{version:08d}.json"
            if not self._fs.exists(self._P(p)):
                raise FileNotFoundError(f"no snapshot manifest {p} (expired?)")
            cached = json.loads(self._read_text(p))
            self._manifest_cache[version] = cached
        # shared, not copied: meta()/tables() results are read-only, and
        # commit() copies what it changes, so the cache stays the committed bytes
        return cached

    def tables(self, version: int | None = None) -> dict[str, list[str]]:
        v = self.current_version() if version is None else version
        return self._manifest(v)["tables"]

    def exists(self, table: str, version: int | None = None) -> bool:
        return bool(self.tables(version).get(table))

    def read(self, table: str, version: int | None = None) -> DataFrame:
        dirs = self.tables(version).get(table)
        if not dirs:
            raise FileNotFoundError(f"table {table!r} not in snapshot")
        key = tuple(dirs)
        df = self._df_cache.get(key)
        if df is not None:
            return df
        if len(dirs) == 1:
            df = self.spark.read.parquet(dirs[0])
        else:
            # appended commits = multiple immutable dirs, each its own
            # hive-partitioned root → per-dir scan + unionByName (keeps
            # each dir's partition pruning intact)
            df = self.spark.read.parquet(dirs[0])
            for d in dirs[1:]:
                df = df.unionByName(self.spark.read.parquet(d))
        self._df_cache[key] = df
        return df

    # ------------------------------------------------------------ writes --
    def stage_dir(self, table: str) -> str:
        """A fresh immutable data dir for a pending commit. Writers (tasks)
        may write directly into it; it becomes visible only on commit."""
        d = f"{self.root}/data/{table}/{uuid.uuid4().hex}"
        self._fs.mkdirs(self._P(d))
        return d

    def discard(self, d: str) -> None:
        """Delete a staged dir that no commit will reference, through the
        store's Hadoop FileSystem (so HDFS/S3A work like the rest)."""
        self._fs.delete(self._P(d), True)

    def write_table(self, table: str, df: DataFrame, partition_by: list[str] | None = None) -> str:
        d = self.stage_dir(table)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(d)
        return d

    def commit(self, updates: dict[str, list[str]], replace: bool = True,
               meta: dict | None = None, drop: list[str] | None = None) -> int:
        """Atomically publish a new snapshot. updates: table → data dirs.
        replace=True swaps the table's dirs; False appends to them.
        drop: tables removed from the new manifest (e.g. the deletes
        tombstone table after compaction physically removed the rows).
        Raises on a concurrent commit of the same version where the FS
        rename is atomic (local/HDFS; best-effort on S3A — see module
        docstring); a rename failed for any other transient reason
        surfaces under the same error."""
        v = self.current_version()
        manifest = self._manifest(v)
        # shallow copy: table lists below are replaced, never mutated
        tables = dict(manifest["tables"])
        for t in drop or []:
            tables.pop(t, None)
        for t, dirs in updates.items():
            if replace or t not in tables:
                tables[t] = list(dirs)
            else:
                tables[t] = tables[t] + list(dirs)
        nv = v + 1
        merged_meta = dict(manifest.get("meta", {}))
        merged_meta.update(meta or {})
        out = {"version": nv, "parent": v, "tables": tables, "meta": merged_meta}
        snap = f"{self.root}/snapshots"
        tmp = f"{snap}/.tmp-{uuid.uuid4().hex}"
        self._write_text(tmp, json.dumps(out, indent=1, sort_keys=True))
        final = f"{snap}/v{nv:08d}.json"
        if not self._fs.rename(self._P(tmp), self._P(final)):
            self._fs.delete(self._P(tmp), False)
            raise RuntimeError(
                f"concurrent commit detected: {final} already exists"
            )
        # advisory human-readable pointer; never read back (see
        # current_version), so a torn write here is harmless
        self._write_text(f"{snap}/CURRENT", str(nv))
        return nv

    def meta(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        return self._manifest(v).get("meta", {})

    def table_bytes(self, table: str, version: int | None = None) -> int | None:
        """Total on-disk bytes of a table's data dirs (None if absent).
        One getContentSummary call per immutable dir, cached by the dir
        list — the query path uses it to decide whether a scan is small
        enough to run as a single task. Callers should pre-gate on shard
        count where a huge file tree would make the summary itself slow
        (HDFS NameNode cost)."""
        dirs = self.tables(version).get(table)
        if not dirs:
            return None
        key = tuple(dirs)
        cached = self._bytes_cache.get(key)
        if cached is None:
            total = 0
            for d in dirs:
                total += int(self._fs.getContentSummary(self._P(d)).getLength())
            cached = total
            self._bytes_cache[key] = cached
        return cached

    def deleted_ids(self, version: int | None = None):
        """Sorted, read-only int64 array of tombstoned doc ids at
        `version`, or None. Shared by the query path and compaction/rebuild;
        cached by the (immutable) deletes dir list like table_bytes, so
        only the first search after a delete pays the collect job."""
        import numpy as np

        key = tuple(self.tables(version).get("deletes") or ())
        if not key:
            return None
        if key not in self._deleted_cache:
            rows = self.read("deletes", version).select("doc_id").collect()
            arr = np.unique(np.array([r["doc_id"] for r in rows], np.int64))
            arr.setflags(write=False)
            self._deleted_cache[key] = arr if len(arr) else None
        return self._deleted_cache[key]

    def drop(self) -> None:
        """clear() analog (/root/reference/src/core/ann_index.rs:110)."""
        self._manifest_cache.clear()
        self._df_cache.clear()
        self._bytes_cache.clear()
        self._deleted_cache.clear()
        self._fs.delete(self._P(self.root), True)
        self._fs.mkdirs(self._P(f"{self.root}/snapshots"))
        self._fs.mkdirs(self._P(f"{self.root}/data"))

    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """Iceberg `expire_snapshots` analog: keep only the newest
        `keep_last` manifests and delete every data dir no kept snapshot
        references. Time travel to expired versions stops working (like
        Iceberg); the CURRENT snapshot is never touched. Returns counts.

        Works on any Hadoop FS (the GC walks and deletes via the
        FileSystem API). Unreferenced dirs are matched by their unique
        uuid leaf name, so the comparison is scheme-insensitive.

        Maintenance op: like Iceberg's orphan-file cleanup, run it while no
        writer is mid-commit — a dir staged but not yet committed is not
        referenced by any manifest and would be collected."""
        cur = self.current_version()
        on_disk = set(self._snapshot_versions())
        keep_versions = [
            v for v in range(max(1, cur - keep_last + 1), cur + 1)
            # a previous expire may already have removed manifests inside
            # the window — keep only the ones still on disk
            if v in on_disk
        ]
        referenced: set[str] = set()
        for v in keep_versions:
            for dirs in self._manifest(v)["tables"].values():
                referenced.update(d.rstrip("/").rsplit("/", 1)[-1] for d in dirs)
        removed_dirs = 0
        data_root = self._P(f"{self.root}/data")
        if self._fs.exists(data_root):
            for t_st in self._fs.listStatus(data_root):
                if not t_st.isDirectory():
                    continue
                for d_st in self._fs.listStatus(t_st.getPath()):
                    if d_st.getPath().getName() not in referenced:
                        self._fs.delete(d_st.getPath(), True)
                        removed_dirs += 1
        removed_manifests = 0
        for v in on_disk:
            if v not in keep_versions:
                self._fs.delete(
                    self._P(f"{self.root}/snapshots/v{v:08d}.json"), False
                )
                # expired versions must fail loudly on read, not serve a
                # cached manifest whose data dirs were just collected
                self._manifest_cache.pop(v, None)
                removed_manifests += 1
        return {"kept_versions": keep_versions,
                "removed_dirs": removed_dirs,
                "removed_manifests": removed_manifests}
