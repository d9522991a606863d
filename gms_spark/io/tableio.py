"""TableIO — atomic snapshot tables with commit markers.

The engine's checkpoint layer. Plays the role Iceberg plays on a real
cluster (atomic snapshot commit + time travel by snapshot id); in the
sandbox there is no Iceberg runtime jar, so the same API is backed by
parquet directories with an explicit ``_COMMITTED`` marker written only
after a successful parquet job — a reader never observes a half-written
snapshot. Swapping in Iceberg is a one-class change (same write/read/
snapshots contract), which is why kernels depend on this seam and not on
paths. Replaces the reference's binary .sg memory images
(gms/third_party/gapbs/reader.h:252-298) and its '@@@' stdout metric rows
(gms/third_party/gapbs/util.h:98-124) — metrics land in a ``lineage``
table instead.

The marker is the snapshot's metadata, as Iceberg's manifests are: a JSON
object with the commit time ``ts``, the caller's ``meta`` keys, the
frame's Spark ``schema`` (so ``read`` needs no schema-inference job) and
``files``, each data file's record count read from its parquet footer on
the driver (so per-partition row counts need no Spark job either). A data
file is named after the task that wrote it (``part-00003-…``), which
``partition_rows`` turns back into rows per written partition.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

MARKER = "_COMMITTED"


def partition_rows(marker: dict) -> dict[int, int]:
    """Rows per writing task (partition id) of a committed snapshot."""
    out: dict[int, int] = {}
    for name, rows in marker["files"].items():
        pid = int(name.split("-")[1])  # part-<task id>-<job uuid>-c<file>...
        out[pid] = out.get(pid, 0) + rows
    return out


class TableIO:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ---- snapshots -------------------------------------------------
    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _sdir(self, table: str, snapshot: int) -> str:
        return os.path.join(self._tdir(table), f"snap={snapshot:08d}")

    def write(
        self,
        df: DataFrame,
        table: str,
        snapshot: int,
        meta=None,
        lineage: Callable[[dict], list[dict]] | None = None,
    ) -> dict:
        """Write one atomic snapshot in ONE Spark job (the parquet write);
        visible only after the marker lands. Returns the marker.

        ``meta`` may be a dict or a 0-arg callable evaluated AFTER the
        parquet job — so metrics observed by the write itself (an
        ``Observation`` riding ``df``) can land in the commit marker.
        ``lineage(marker)`` gives the snapshot's lineage rows; they are
        appended BEFORE the marker, so a committed snapshot always has
        them (a rewrite of an uncommitted snapshot replaces them).
        """
        d = self._sdir(table, snapshot)
        if os.path.exists(d):
            shutil.rmtree(d)  # retry of an uncommitted write
        df.write.mode("overwrite").parquet(d)
        files = {e: pq.read_metadata(os.path.join(d, e)).num_rows for e in sorted(os.listdir(d)) if e.startswith("part-")}
        if callable(meta):
            meta = meta()
        marker = {"ts": time.time(), **(meta or {}), "schema": json.loads(df.schema.json()), "files": files}
        if lineage is not None:
            self.append_lineage(lineage(marker))
        _atomic_write(os.path.join(d, MARKER), json.dumps(marker))
        return marker

    def snapshots(self, table: str) -> list[int]:
        t = self._tdir(table)
        if not os.path.isdir(t):
            return []
        out = []
        for e in sorted(os.listdir(t)):
            if e.startswith("snap=") and os.path.exists(os.path.join(t, e, MARKER)):
                out.append(int(e.split("=")[1]))
        return out

    def last_committed(self, table: str) -> int | None:
        s = self.snapshots(table)
        return s[-1] if s else None

    def marker(self, table: str, snapshot: int) -> dict:
        with open(os.path.join(self._sdir(table, snapshot), MARKER)) as f:
            return json.load(f)

    def read(self, spark: SparkSession, table: str, snapshot: int | None = None) -> DataFrame:
        """A lazy scan of a committed snapshot, typed by its marker's schema."""
        if snapshot is None:
            snapshot = self.last_committed(table)
        if snapshot is None:
            raise FileNotFoundError(f"no committed snapshot for table {table!r} under {self.root}")
        schema = StructType.fromJson(self.marker(table, snapshot)["schema"])
        return spark.read.schema(schema).parquet(self._sdir(table, snapshot))

    # ---- lineage ----------------------------------------------------
    def _lineage_path(self, run_id: str, kernel: str, iteration: int) -> str:
        # One json file per commit: append-only, atomic via rename.
        return os.path.join(self.root, "lineage", f"{run_id}_{kernel}_{iteration:06d}.json")

    def has_lineage(self, run_id: str, kernel: str, iteration: int) -> bool:
        return os.path.exists(self._lineage_path(run_id, kernel, iteration))

    def append_lineage(self, rows: list[dict]) -> None:
        """Append per-partition lineage rows (kernel, run_id, iteration,
        partition_id, rows, delta_norm, wall_ms, committed_at)."""
        if not rows:
            return
        r = rows[0]
        path = self._lineage_path(r.get("run_id", "r"), r.get("kernel", "k"), r.get("iteration", 0))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        _atomic_write(path, "".join(json.dumps(r) + "\n" for r in rows))

    def lineage_rows(self) -> list[dict]:
        d = os.path.join(self.root, "lineage")
        out: list[dict] = []
        if not os.path.isdir(d):
            return out
        for e in sorted(os.listdir(d)):
            if e.endswith(".json"):
                with open(os.path.join(d, e)) as f:
                    out.extend(json.loads(line) for line in f if line.strip())
        return out


def _atomic_write(path: str, text: str) -> None:
    """Write ``path`` via a dot-file and a rename: readers see all or nothing."""
    head, tail = os.path.split(path)
    tmp = os.path.join(head, f".{tail}.tmp")
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)
