"""Iceberg-shaped snapshot storage (SURVEY.md §7.1).

No Iceberg runtime jar exists in this sandbox (and none can be
fetched), so this module provides the engine's ONLY storage API —
append / read / commit_snapshot / read_at / resume — backed by
Parquet data files plus JSON snapshot manifests. Swapping in real
Iceberg (`df.writeTo(tbl).append()`, `VERSION AS OF`) is a config
change behind this same API, not an engine change.

Iceberg-parity properties kept:
  * append-only data files; a snapshot = immutable manifest listing
    the file-set per table (time travel via read_at)
  * per-append lineage: file paths + exact row counts (from parquet
    footers — no extra Spark job) recorded in the manifest
    (north rule "per-partition lineage + metrics", BASELINE.json:14)
  * atomic commit: manifest written to a temp name then os.rename
  * resume: open the latest manifest and continue from its round

The reference has no storage at all (in-memory sets reset per crawl,
/root/reference/simple_crawler/crawler.py:244-251); snapshots ARE the
engine's history.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _data_files(paths: list[str]) -> list[str]:
    """The parquet data files of the table dirs ``paths`` (a driver
    listdir)."""
    return [f for path in paths
            for f in sorted(glob.glob(os.path.join(path, "*.parquet")))]


def _parquet_lineage(path: str) -> list[dict]:
    """Exact per-file row counts from parquet footers (driver-side,
    no Spark job)."""
    import pyarrow.parquet as pq

    return [{"file": f, "rows": pq.read_metadata(f).num_rows}
            for f in _data_files([path])]


def footer_counts(paths: list[str], columns: tuple[str, ...] = ()
                  ) -> tuple[int, dict[str, int]]:
    """Row count and per-column null counts of the parquet dirs
    ``paths``, summed from their footers (driver-side, no Spark job).
    Spark drops every statistic of a string column chunk that holds a
    value over 4 KB, the null count included; such a chunk counts as
    holding no nulls, so "rows minus nulls" over-counts, never
    under-counts, the rows with a value."""
    import pyarrow.parquet as pq

    rows, nulls = 0, dict.fromkeys(columns, 0)
    for f in _data_files(paths):
        md = pq.read_metadata(f)
        rows += md.num_rows
        names = md.schema.names
        for g in range(md.num_row_groups):
            for c in columns:
                stats = md.row_group(g).column(names.index(c)).statistics
                if stats is not None and stats.has_null_count:
                    nulls[c] += stats.null_count
    return rows, nulls


class SidecarIO:
    """Byte-object I/O for filter sidecars (bloom bucket bitsets,
    cuckoo shard tables). The local-filesystem implementation; a
    shared-storage deployment (object store / HDFS) subclasses
    read_bytes/write_bytes/remove/exists and everything above — the
    executors' per-bucket loads and the driver's manifest writes —
    goes through this seam, so swapping storage is a config change,
    exactly like the Parquet tables behind SnapshotStore (round-2
    verdict item 7). Instances carry only the root string, so they
    pickle into executor closures."""

    def __init__(self, root: str):
        self.root = root

    def _p(self, name: str) -> str:
        return os.path.join(self.root, name)

    def write_bytes(self, name: str, data: bytes) -> None:
        """Atomic object write (tmp + rename)."""
        os.makedirs(self.root, exist_ok=True)
        tmp = self._p(f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.replace(tmp, self._p(name))

    def read_bytes(self, name: str) -> bytes:
        with open(self._p(name), "rb") as fh:
            return fh.read()

    def remove(self, name: str) -> None:
        try:
            os.remove(self._p(name))
        except OSError:
            pass

    def exists(self, name: str) -> bool:
        return os.path.exists(self._p(name))


class SnapshotStore:
    """Append-only multi-table store with snapshot manifests."""

    def __init__(self, spark: SparkSession, root: str,
                 schemas: dict[str, T.StructType] | None = None):
        self.spark = spark
        self.root = root
        self.schemas = dict(schemas or {})
        self._snap_dir = os.path.join(root, "snapshots")
        os.makedirs(self._snap_dir, exist_ok=True)
        # committed state: table -> list of data dirs
        self._committed: dict[str, list[str]] = {}
        # table -> {data dir -> partition tag} (Iceberg partition-spec
        # analogue: read(partition=...) prunes to matching dirs)
        self._partitions: dict[str, dict[str, str]] = {}
        self._pending: dict[str, list[dict]] = {}
        # appends to DIFFERENT tables may run from concurrent driver
        # threads (the crawl round overlaps its independent write jobs)
        self._pending_lock = threading.Lock()
        self._last_snapshot: dict | None = None
        latest = self._latest_manifest_path()
        if latest:
            with open(latest) as fh:
                snap = json.load(fh)
            self._committed = {k: list(v) for k, v in snap["tables"].items()}
            self._partitions = {k: dict(v)
                                for k, v in snap.get("partitions", {}).items()}
            self._last_snapshot = snap

    # -- write ------------------------------------------------------------

    def append(self, table: str, df: DataFrame,
               partition: str | None = None) -> str:
        """Write ``df`` as a new immutable data dir for ``table``.
        Becomes visible to read() immediately, durable at commit.
        ``partition`` tags the dir for pruned reads (every row in the
        append must belong to that partition — the writer's contract,
        as with an Iceberg partition spec)."""
        path = os.path.join(self.root, "data", table, uuid.uuid4().hex[:12])
        df.write.mode("errorifexists").parquet(path)
        entry = {"path": path, "partition": partition,
                 "lineage": _parquet_lineage(path)}
        with self._pending_lock:
            self._pending.setdefault(table, []).append(entry)
        return path

    def overwrite(self, table: str, df: DataFrame) -> str:
        """Replace ``table``'s contents with ``df`` (Iceberg
        overwrite analogue): writes a new data dir and repoints the
        table at ONLY that dir from the next commit. Old data files
        stay on disk, so prior snapshots still time-travel."""
        path = os.path.join(self.root, "data", table, uuid.uuid4().hex[:12])
        df.write.mode("errorifexists").parquet(path)
        self._committed[table] = []
        self._partitions.pop(table, None)
        self._pending[table] = [
            {"path": path, "partition": None,
             "lineage": _parquet_lineage(path)}]
        return path

    def discard(self, path: str) -> None:
        """Drop the pending append at ``path`` and delete its dir (an
        append that turned out empty): no commit will list it."""
        with self._pending_lock:
            for appends in self._pending.values():
                appends[:] = [a for a in appends if a["path"] != path]
        shutil.rmtree(path, ignore_errors=True)

    def commit_snapshot(self, round_no: int, metrics: dict | None = None) -> str:
        with self._pending_lock:  # serialised with compact()'s swap
            snap_id = (self._last_snapshot["id"] + 1
                       if self._last_snapshot else 1)
            tables = {k: list(v) for k, v in self._committed.items()}
            partitions = {k: dict(v) for k, v in self._partitions.items()}
            lineage: dict[str, list] = {}
            for table, appends in self._pending.items():
                tables.setdefault(table, []).extend(
                    a["path"] for a in appends)
                for a in appends:
                    if a.get("partition") is not None:
                        partitions.setdefault(table, {})[a["path"]] = \
                            a["partition"]
                lineage[table] = [
                    {"path": a["path"], "partition": a.get("partition"),
                     "files": a["lineage"]} for a in appends
                ]
            snap = {
                "id": snap_id,
                "round": round_no,
                "tables": tables,
                "partitions": partitions,
                "new_lineage": lineage,
                "metrics": metrics or {},
            }
            tmp = os.path.join(self._snap_dir, f".tmp-{uuid.uuid4().hex}")
            with open(tmp, "w") as fh:
                json.dump(snap, fh, indent=1)
            final = os.path.join(self._snap_dir,
                                 f"snap-{snap_id:06d}.json")
            os.rename(tmp, final)
            self._committed = tables
            self._partitions = partitions
            self._pending = {}
            self._last_snapshot = snap
            return final

    # -- read -------------------------------------------------------------

    def paths(self, table: str, partition: str | None = None) -> list[str]:
        """The data dirs read() scans: committed plus pending."""
        paths = (self._committed.get(table, [])
                 + [a["path"] for a in self._pending.get(table, [])])
        if partition is None:
            return paths
        tags = dict(self._partitions.get(table, {}))
        for a in self._pending.get(table, []):
            if a.get("partition") is not None:
                tags[a["path"]] = a["partition"]
        # untagged dirs are kept (conservative — pruning is an
        # optimisation, never a correctness dependency)
        return [p for p in paths if tags.get(p, partition) == partition]

    def read(self, table: str, partition: str | None = None) -> DataFrame:
        paths = self.paths(table, partition)
        schema = self.schemas.get(table)
        if not paths:
            if schema is None:
                raise KeyError(f"empty table {table!r} with no schema registered")
            return self.spark.createDataFrame([], schema)
        # registered schema → skip driver-side footer inference (one
        # listing + footer read per read() call otherwise — measured
        # ~0.1-0.3s each, a per-round serial cost the scaling gate pays)
        reader = (self.spark.read.schema(schema) if schema is not None
                  else self.spark.read)
        return reader.parquet(*paths)

    def read_at(self, table: str, snapshot_id: int) -> DataFrame:
        snap = self._load_snapshot(snapshot_id)
        paths = snap["tables"].get(table, [])
        if not paths:
            return self.spark.createDataFrame([], self.schemas[table])
        schema = self.schemas.get(table)
        reader = (self.spark.read.schema(schema) if schema is not None
                  else self.spark.read)
        return reader.parquet(*paths)

    # -- row counts (parquet footers — never a Spark job) -------------------

    def append_rows(self, path: str) -> int:
        """Exact row count of the pending append at ``path`` — the
        footer lineage append() recorded when it wrote the dir."""
        with self._pending_lock:
            for appends in self._pending.values():
                for a in appends:
                    if a["path"] == path:
                        return sum(f["rows"] for f in a["lineage"])
        raise KeyError(f"no pending append at {path!r}")

    def rows(self, table: str, partition: str | None = None,
             pending: bool = False) -> int:
        """Exact row count of ``table`` (or of one partition) as read()
        would see it; ``pending=True`` counts only the appends not yet
        committed. Committed dirs are counted from their footers."""
        with self._pending_lock:
            recorded = {a["path"]: a["lineage"]
                        for a in self._pending.get(table, [])}
        paths = self.paths(table, partition)
        if pending:
            paths = [p for p in paths if p in recorded]
        return sum(f["rows"] for p in paths
                   for f in recorded.get(p) or _parquet_lineage(p))

    def bytes(self, table: str) -> int:
        """Summed parquet file bytes of ``table`` as read() would see
        it (a driver listdir; no footer read, no Spark job)."""
        return sum(os.path.getsize(f)
                   for f in _data_files(self.paths(table)))

    # -- maintenance (Iceberg expireSnapshots / removeOrphanFiles /
    #    rewriteDataFiles) ---------------------------------------------------

    def compact(self, table: str, partition: str | None = None,
                min_dirs: int = 2,
                target_bytes: int = 128 << 20,
                merge_partitions: bool = False) -> dict:
        """Rewrite ``table``'s committed data dirs into fewer, larger
        ones (Iceberg rewriteDataFiles / bin-pack analogue). The
        append-per-round/per-batch discipline is what makes commits
        atomic and lineage exact, but at 10^10 URLs it also means a
        long crawl's seen/results tables accumulate one small dir per
        round — and a scan's task count (and the object-store LIST
        cost) grows with FILE count, not data size. Compaction is the
        standard table-maintenance answer, same cadence as
        expire_snapshots + vacuum.

        Semantics:
          * groups committed dirs by partition tag (untagged dirs
            form their own group) and rewrites every group with at
            least ``min_dirs`` dirs into ONE new dir, sized to
            ~``target_bytes`` per output file;
          * ``partition=`` restricts to one partition's group;
          * ``merge_partitions=True`` collapses EVERY selected dir
            into one untagged group — right for tables whose tags are
            write-provenance only (seen/results tag one dir per
            round but are never pruned-read; the round lives in a
            COLUMN). Safe by the store's pruning contract: untagged
            dirs are conservatively kept by every pruned read, and
            readers guard with a .where — pruning is an optimisation,
            never a correctness dependency;
          * pending (uncommitted) appends are never touched — run
            between crawls/batches, like vacuum;
          * old dirs stay on disk so read_at() time travel to prior
            snapshots still works; they become orphans once the
            retained manifests stop referencing them and vacuum
            reclaims them (run expire_snapshots first, as ever);
          * the swap is in-memory first and becomes DURABLE at the
            next commit_snapshot — a crash in between leaves the old
            manifest intact and the new dirs as harmless orphans
            (exactly the append/commit crash contract).

        Returns {"table", "groups_rewritten", "dirs_before",
        "dirs_after", "files_before", "files_after"}."""
        with self._pending_lock:
            committed = list(self._committed.get(table, []))
            tags = dict(self._partitions.get(table, {}))
        groups: dict[str | None, list[str]] = {}
        for p in committed:
            tag = tags.get(p)
            if partition is not None and tag != partition:
                continue
            groups.setdefault(None if merge_partitions else tag,
                              []).append(p)

        schema = self.schemas.get(table)
        reader = (self.spark.read.schema(schema) if schema is not None
                  else self.spark.read)
        rewritten: dict[str | None, dict] = {}
        files_before = len(_data_files(committed))
        for tag, dirs in groups.items():
            if len(dirs) < min_dirs:
                continue
            total = sum(os.path.getsize(f) for f in _data_files(dirs))
            n_out = max(1, int(total // target_bytes) + 1)
            newdir = os.path.join(self.root, "data", table,
                                  "c" + uuid.uuid4().hex[:11])
            (reader.parquet(*dirs).repartition(n_out)
             .write.mode("errorifexists").parquet(newdir))
            rewritten[tag] = {"old": dirs, "new": newdir}
        if rewritten:
            replaced = {p for rw in rewritten.values() for p in rw["old"]}
            # swap against the CURRENT committed list, not the one read
            # before the rewrite: a dir another thread appended and
            # committed meanwhile must survive
            with self._pending_lock:
                newlist = [p for p in self._committed.get(table, [])
                           if p not in replaced]
                tags = dict(self._partitions.get(table, {}))
                for tag, rw in rewritten.items():
                    newlist.append(rw["new"])
                    if tag is not None:
                        tags[rw["new"]] = tag
                    for p in rw["old"]:
                        tags.pop(p, None)
                self._committed[table] = newlist
                if tags:
                    self._partitions[table] = tags
                else:
                    self._partitions.pop(table, None)
        final = self._committed.get(table, [])
        return {"table": table,
                "groups_rewritten": len(rewritten),
                "dirs_before": len(committed),
                "dirs_after": len(final),
                "files_before": files_before,
                "files_after": len(_data_files(final))}

    # -- maintenance (Iceberg expireSnapshots / removeOrphanFiles) ---------

    def expire_snapshots(self, keep_last: int = 2) -> list[str]:
        """Drop manifest files beyond the newest ``keep_last``
        (Iceberg expireSnapshots analogue). Time-travel to expired
        ids stops working; the CURRENT state and resume are
        unaffected (they read only the latest manifest). Returns the
        removed manifest paths.

        A 10^10-URL crawl commits one snapshot per round; without
        retention the manifest count — and vacuum's live-set scan —
        grows without bound, so long crawls run
        expire_snapshots + vacuum on a cadence exactly like an
        Iceberg table."""
        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        manifests = sorted(
            glob.glob(os.path.join(self._snap_dir, "snap-*.json")))
        drop = manifests[:-keep_last]
        for p in drop:
            os.remove(p)
        return drop

    def vacuum(self) -> list[str]:
        """Delete data dirs that no RETAINED snapshot references —
        orphans from overwrite repoints, expired snapshots, and
        crashed append attempts (Iceberg removeOrphanFiles
        analogue). Pending (uncommitted) appends are always kept.
        Run AFTER expire_snapshots, never before: a dir must not
        vanish while a retained manifest still lists it. Returns the
        removed dirs.

        Driver-side file ops, but bounded by the number of APPEND
        DIRS (a handful per table per round), never by rows; on an
        object store this becomes one batched list + delete per
        table prefix."""
        live: set[str] = set()
        for snap in self.snapshots():
            for dirs in snap["tables"].values():
                live.update(dirs)
        with self._pending_lock:
            for appends in self._pending.values():
                live.update(a["path"] for a in appends)
        # current in-memory state may be ahead of the last manifest
        for dirs in self._committed.values():
            live.update(dirs)
        removed: list[str] = []
        for table_dir in sorted(
                glob.glob(os.path.join(self.root, "data", "*"))):
            for d in sorted(glob.glob(os.path.join(table_dir, "*"))):
                if d not in live:
                    shutil.rmtree(d, ignore_errors=True)
                    removed.append(d)
        return removed

    # -- snapshot metadata --------------------------------------------------

    def _latest_manifest_path(self) -> str | None:
        manifests = sorted(glob.glob(os.path.join(self._snap_dir, "snap-*.json")))
        return manifests[-1] if manifests else None

    def _load_snapshot(self, snapshot_id: int) -> dict:
        with open(os.path.join(self._snap_dir, f"snap-{snapshot_id:06d}.json")) as fh:
            return json.load(fh)

    def snapshots(self) -> list[dict]:
        out = []
        for p in sorted(glob.glob(os.path.join(self._snap_dir, "snap-*.json"))):
            with open(p) as fh:
                out.append(json.load(fh))
        return out

    @property
    def last_snapshot(self) -> dict | None:
        return self._last_snapshot

    def latest_round(self) -> int | None:
        return self._last_snapshot["round"] if self._last_snapshot else None

    def sidecar(self, name: str) -> SidecarIO:
        """Byte-object namespace under this store's sidecar area (bloom
        buckets, cuckoo shards) — same root, same swap-for-shared-
        storage story as the tables."""
        return SidecarIO(os.path.join(self.root, "sidecar", name))
