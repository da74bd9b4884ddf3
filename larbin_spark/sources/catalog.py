"""Snapshot catalog: atomic per-round state commits with exact resume.

The reference persists its frontier as numbered FIFO files plus
periodic bitmap dumps (persistent_fifo.cxx:186-216,
hash_table.cxx:78-88) and resume is lossy (RAM queues lost). Here a
*snapshot* is a directory `round=NNNNNN/` holding parquet data per
state table plus a `manifest.json` with the driver counters; the
manifest is written last and a `_LATEST` pointer file is renamed into
place atomically, so resume (`latest()`) is exact: re-read the tables
of the newest complete snapshot and continue at `manifest["round"]`.

A table may commit as a DELTA: the snapshot's dir holds only the
rows written since the previous snapshot, and the manifest records
the list of ancestor rounds whose files compose the full table
(`tables: {name: [rounds...]}`) — Iceberg's append-commit shape (new
data files + manifest reuse). The store only writes, reads and
composes such chains; which tables commit as deltas, and when a
chain is compacted by a full rewrite, is plans/state.py's business.
prune expires snapshot manifests but keeps data dirs still
referenced by a kept chain.

This is the plain-filesystem stand-in for an Iceberg catalog (no
Iceberg runtime jar is available in this sandbox); the protocol —
snapshot-per-round, manifest-pointer commit, time-travel by round —
mirrors Iceberg's snapshot/metadata-pointer design, and `write_table`
/ `read_table` are the single seam where `df.writeTo(...)` would slot
in on a real cluster.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _snap_dir(self, rnd: int) -> str:
        return os.path.join(self.root, f"round={rnd:06d}")

    def write_table(self, rnd: int, name: str, df: DataFrame,
                    range_col=None) -> None:
        """Write `df` as table `name`'s files in this snapshot: a
        whole table, or one delta of its chain. The data sizes the
        files: a range-sharded table gets one file per range
        partition, whose count AQE sets from the rows (a small delta
        is one file), and any other table one file per partition it
        arrives with. The manifest `commit` writes is the commit
        marker, so no `_SUCCESS` file is written.

        range_col: shard the table by range of that column (or list
        of columns) and sort each file by it (docs/SCALE.md §3):
        files carry tight parquet min/max stats on the key(s), so
        membership probes and the frontier's head/watermark filters
        prune to the relevant shards and shard merges are sorted
        merges. This is the seam Iceberg `bucket(col, N)` /
        sort-order partitioning fills on a real cluster."""
        path = os.path.join(self._snap_dir(rnd), name)
        if range_col is not None:
            cols = ([range_col] if isinstance(range_col, str)
                    else list(range_col))
            df = df.repartitionByRange(*cols).sortWithinPartitions(*cols)
        (df.write.mode("overwrite")
         .option("mapreduce.fileoutputcommitter.marksuccessfuljobs",
                 "false")
         .parquet(path))

    def table_rounds(self, rnd: int, name: str,
                     default: Optional[list] = None) -> list:
        """The rounds whose `name` files compose the table as of
        snapshot rnd (from the manifest; [rnd] for full writes
        unless a different default is given — tombstone side-tables
        default to [] because a compacted snapshot has none)."""
        m = self.manifest(rnd)
        if default is None:
            default = [rnd]
        return list(m.get("tables", {}).get(name, default))

    def read_table(self, spark: SparkSession, rnd: int, name: str,
                   schema=None) -> DataFrame:
        try:
            rounds = self.table_rounds(rnd, name)
        except FileNotFoundError:
            rounds = [rnd]
        return self.read_rounds(spark, rounds, name, schema)

    def read_rounds(self, spark: SparkSession, rounds: list, name: str,
                    schema=None) -> DataFrame:
        """Read the union of a table's data dirs across the given
        snapshot rounds (a manifest composition chain)."""
        paths = [os.path.join(self._snap_dir(r), name) for r in rounds]
        # a referenced chain ancestor that is GONE is data loss, not
        # something to silently skip (even an empty delta writes a
        # dir) — fail loud rather than resume a truncated table
        missing = [p for p in paths if not os.path.isdir(p)]
        if missing and len(paths) > 1:
            raise FileNotFoundError(
                f"snapshot chain for table {name!r} over rounds "
                f"{rounds} is missing referenced data dirs: {missing}")
        if schema is not None:
            # explicit schema: an empty table writes no part files
            return spark.read.schema(schema).parquet(*paths)
        return spark.read.parquet(*paths)

    def commit(self, rnd: int, manifest: dict) -> None:
        """Write the manifest, then atomically advance _LATEST.
        manifest may carry `tables: {name: [rounds...]}` — the
        file-composition lists written by CrawlState.save."""
        snap = self._snap_dir(rnd)
        os.makedirs(snap, exist_ok=True)
        with open(os.path.join(snap, "manifest.json"), "w") as fp:
            json.dump(manifest, fp, indent=1)
        fd, tmp = tempfile.mkstemp(dir=self.root)
        with os.fdopen(fd, "w") as fp:
            fp.write(f"{rnd:06d}")
        os.replace(tmp, os.path.join(self.root, "_LATEST"))

    def latest(self) -> Optional[int]:
        ptr = os.path.join(self.root, "_LATEST")
        if not os.path.exists(ptr):
            return None
        with open(ptr) as fp:
            return int(fp.read().strip())

    def manifest(self, rnd: int) -> dict:
        with open(os.path.join(self._snap_dir(rnd), "manifest.json")) as fp:
            return json.load(fp)

    def prune(self, keep_last: int = 2) -> None:
        """Drop snapshots older than the keep window — EXCEPT round
        dirs whose data files are still referenced by a kept
        snapshot's manifest (delta appends reuse ancestor files, so
        expiring a snapshot must not delete live data — Iceberg's
        expire-snapshots vs orphan-file distinction). Compaction
        (periodic full rewrites, CrawlState.save) resets the
        reference chains so history stays bounded."""
        latest = self.latest()
        if latest is None:
            return
        cutoff = latest - keep_last + 1
        referenced = set()
        for entry in os.listdir(self.root):
            if entry.startswith("round="):
                r = int(entry.split("=")[1])
                if r >= cutoff:
                    try:
                        m = self.manifest(r)
                    except (FileNotFoundError, json.JSONDecodeError) as e:
                        if r > latest:
                            # beyond _LATEST = never committed (crash
                            # mid-write): it references nothing, skip
                            continue
                        # a KEPT committed snapshot is exactly one
                        # whose delta chains must be preserved;
                        # pruning with its manifest unreadable could
                        # rmtree ancestor data dirs the chain
                        # references — abort rather than risk
                        # irrecoverable truncation
                        raise RuntimeError(
                            f"prune aborted: snapshot round={r} is in "
                            f"the keep window but its manifest.json is "
                            f"missing/corrupt ({e}); cannot establish "
                            f"which ancestor data dirs are still "
                            f"referenced") from e
                    for rounds in m.get("tables", {}).values():
                        referenced.update(rounds)
        for entry in os.listdir(self.root):
            if entry.startswith("round="):
                r = int(entry.split("=")[1])
                if r >= cutoff:
                    continue
                if r not in referenced:
                    shutil.rmtree(os.path.join(self.root, entry),
                                  ignore_errors=True)
                else:
                    # snapshot expired but its data files are still
                    # composed into a kept table: drop only the
                    # snapshot identity (manifest), keep the data
                    try:
                        os.remove(os.path.join(self._snap_dir(r),
                                               "manifest.json"))
                    except FileNotFoundError:
                        pass
