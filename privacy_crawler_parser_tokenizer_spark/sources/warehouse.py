"""Snapshot-manifest table layer (the Iceberg fallback, SURVEY.md §7).

The Iceberg runtime jar is not available in this sandbox, so engine
state tables (frontier, seen, crawl_log, documents, metrics) use the
same *shape* on plain parquet: a table is a directory of immutable
snapshot data dirs plus a JSON manifest naming the current snapshot.

    <root>/<table>/snap=<id>/part-*.parquet
    <root>/<table>/manifest.json   {"current": id, "snapshots": [...]}

Writes are atomic at the manifest level (write tmp + os.replace), reads
always go through the manifest, so a crash mid-write never corrupts the
current snapshot — exactly the property checkpoint/resume needs.  A
round-level commit marker (``commit(round)``) records which set of
table snapshots forms a consistent checkpoint; resume loads the last
committed round.  Swapping this layer for real Iceberg is a config
change (``df.writeTo(...).append()`` against a catalog) — the frontier
code only talks to ``Warehouse``.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession


def _atomic_write_json(path: str, obj) -> None:
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".tmp")
    with os.fdopen(fd, "w") as fp:
        json.dump(obj, fp)
    os.replace(tmp, path)


class Warehouse:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- table snapshots ---------------------------------------------------
    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.root, table, "manifest.json")

    def _manifest(self, table: str) -> dict:
        p = self._manifest_path(table)
        if not os.path.exists(p):
            return {"current": None, "snapshots": []}
        with open(p) as fp:
            return json.load(fp)

    def _publish(self, table: str, snapshot: int) -> None:
        """Point the manifest at ``snapshot`` (atomic replace)."""
        m = self._manifest(table)
        if snapshot not in m["snapshots"]:
            m["snapshots"].append(snapshot)
        m["current"] = snapshot
        os.makedirs(os.path.dirname(self._manifest_path(table)), exist_ok=True)
        _atomic_write_json(self._manifest_path(table), m)

    def write(self, df: DataFrame, table: str, snapshot: int) -> None:
        """Materialize ``df`` as snapshot ``snapshot`` of ``table`` and
        point the manifest at it."""
        data_dir = os.path.join(self.root, table, f"snap={snapshot}")
        if os.path.exists(data_dir):
            shutil.rmtree(data_dir)  # re-write of an uncommitted snapshot
        df.write.mode("overwrite").parquet(data_dir)
        self._publish(table, snapshot)

    def write_rows(self, rows: list[tuple], schema, table: str,
                   snapshot: int) -> None:
        """Driver-local snapshot write for TINY tables (a metrics row, a
        marker): one pyarrow parquet file, no Spark job.  ``schema`` is
        a ``pyarrow.Schema``; readers (``spark.read.parquet``) see the
        same layout as a Spark-written snapshot."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        data_dir = os.path.join(self.root, table, f"snap={snapshot}")
        if os.path.exists(data_dir):
            shutil.rmtree(data_dir)
        os.makedirs(data_dir)
        cols = list(zip(*rows)) if rows else [[] for _ in schema]
        pq.write_table(
            pa.table({f.name: list(c) for f, c in zip(schema, cols)},
                     schema=schema),
            os.path.join(data_dir, "part-00000.parquet"),
        )
        with open(os.path.join(data_dir, "_SUCCESS"), "w"):
            pass
        self._publish(table, snapshot)

    def read(self, spark: SparkSession, table: str,
             snapshot: int | None = None) -> DataFrame | None:
        """Current (or time-travel ``snapshot``) contents; None if the
        table/snapshot does not exist."""
        m = self._manifest(table)
        snap = m["current"] if snapshot is None else snapshot
        if snap is None or snap not in m["snapshots"]:
            return None
        return spark.read.parquet(self.snapshot_path(table, snap))

    def snapshots(self, table: str) -> list[int]:
        return list(self._manifest(table)["snapshots"])

    def expire_snapshots(self, table: str, keep: int = 2) -> None:
        """Drop all but the newest ``keep`` snapshots (bounds disk like
        Iceberg's expire_snapshots)."""
        m = self._manifest(table)
        snaps = sorted(m["snapshots"])
        for s in snaps[:-keep] if keep else snaps:
            if s == m["current"]:
                continue
            shutil.rmtree(os.path.join(self.root, table, f"snap={s}"),
                          ignore_errors=True)
            m["snapshots"].remove(s)
        _atomic_write_json(self._manifest_path(table), m)

    # -- monitor guards ----------------------------------------------------
    def _monitors_dir(self) -> str:
        return os.path.join(self.root, "_monitors")

    def acquire_monitor(self, table: str) -> str:
        """Mark ``table`` as having an attached streaming reader.  While
        any marker exists, ``compact`` skips the table: compaction moves
        data into ``compact=`` dirs and deletes the ``snap=`` dirs a
        file-source stream is globbing, so a running monitor would miss
        compacted rounds (or race the deletion of files it has not read
        yet).  Returns the marker path for ``release_monitor``."""
        d = self._monitors_dir()
        os.makedirs(d, exist_ok=True)
        marker = os.path.join(d, f"{table}.{os.getpid()}")
        with open(marker, "w") as fp:
            fp.write("")
        return marker

    def release_monitor(self, marker: str) -> None:
        try:
            os.remove(marker)
        except FileNotFoundError:
            pass

    def monitored(self, table: str) -> bool:
        """True while a LIVE reader holds a marker.  Markers whose pid
        no longer exists (crashed/killed monitor that never released)
        are reaped on sight — a stale marker must not disable
        compaction forever."""
        d = self._monitors_dir()
        if not os.path.isdir(d):
            return False
        alive = False
        for f in os.listdir(d):
            if not f.startswith(f"{table}."):
                continue
            try:
                pid = int(f.rsplit(".", 1)[1])
                os.kill(pid, 0)                 # liveness probe only
                alive = True
            except (ValueError, ProcessLookupError):
                try:
                    os.remove(os.path.join(d, f))   # reap stale marker
                except FileNotFoundError:
                    pass
            except PermissionError:
                alive = True                    # exists, owned elsewhere
        return alive

    def snapshot_path(self, table: str, snapshot: int) -> str:
        """Data dir of a snapshot (compacted snapshots live in mapped
        dirs recorded in the manifest)."""
        m = self._manifest(table)
        dirname = m.get("dirs", {}).get(str(snapshot), f"snap={snapshot}")
        return os.path.join(self.root, table, dirname)

    def compact(self, spark: SparkSession, table: str, upto: int) -> None:
        """Merge every snapshot <= ``upto`` into a single snapshot id
        ``upto`` (the Iceberg rewrite_data_files analog for append-only
        delta tables: keeps multi-path read fan-in bounded on long
        crawls).  Readers filtering ``snapshot <= N`` see identical
        contents for any N >= upto.  Crash-safe: the merged dir is
        written first, the manifest swap is one atomic rename, and old
        dirs are deleted only after the manifest points away from them.
        """
        if self.monitored(table):
            return  # a streaming reader is globbing the snap= dirs
        self.rewrite(spark, table, upto, None)

    def rewrite(self, spark: SparkSession, table: str, upto: int,
                df: DataFrame | None) -> None:
        """Replace every snapshot <= ``upto`` with one snapshot holding
        ``df`` (or, when ``df`` is None, the union of the replaced
        snapshots — plain compaction).  The Iceberg rewrite/overwrite
        analog: maintenance ops like TTL expiry of the ``seen`` table
        transform-and-swap through this, keeping the same crash-safety
        (new dir first, one atomic manifest rename, old dirs deleted
        only after)."""
        m = self._manifest(table)
        snaps = sorted(s for s in m["snapshots"] if s <= upto)
        if df is None and len(snaps) <= 1:
            return
        if not snaps:
            return
        dirs = m.get("dirs", {})
        old_paths = [self.snapshot_path(table, s) for s in snaps]
        merged = df if df is not None else spark.read.parquet(*old_paths)
        # generation counter keeps the new dir distinct from ANY dir a
        # previous compact/rewrite may have produced for the same
        # ``upto`` — the merged plan lazily READS the old dirs, so the
        # target must never collide with a source
        gen = int(m.get("gen", 0)) + 1
        m["gen"] = gen
        new_dirname = f"compact={upto}-{len(snaps)}g{gen}"
        new_dir = os.path.join(self.root, table, new_dirname)
        if os.path.exists(new_dir):
            shutil.rmtree(new_dir)
        merged.write.mode("overwrite").parquet(new_dir)
        # atomic manifest swap
        m["snapshots"] = [s for s in m["snapshots"] if s > upto] + [upto]
        dirs = {k: v for k, v in dirs.items() if int(k) > upto}
        dirs[str(upto)] = new_dirname
        m["dirs"] = dirs
        if m["current"] in snaps or m["current"] is None:
            m["current"] = upto
        _atomic_write_json(self._manifest_path(table), m)
        # old dirs are now unreferenced; failures here leak disk, not data
        for p in old_paths:
            if os.path.basename(p) != new_dirname:
                shutil.rmtree(p, ignore_errors=True)

    # -- round-level commit markers ---------------------------------------
    def _commits_path(self) -> str:
        return os.path.join(self.root, "commits.json")

    def commit(self, round_id: int, tables: list[str]) -> None:
        """Mark the set of table snapshots ``snap=round_id`` as a
        consistent checkpoint."""
        p = self._commits_path()
        commits = []
        if os.path.exists(p):
            with open(p) as fp:
                commits = json.load(fp)
        commits.append({"round": round_id, "tables": tables})
        _atomic_write_json(p, commits)

    def last_committed_round(self) -> int | None:
        p = self._commits_path()
        if not os.path.exists(p):
            return None
        with open(p) as fp:
            commits = json.load(fp)
        return commits[-1]["round"] if commits else None
