"""Snapshot-manifest table format (Iceberg-compatible resume semantics).

The production design is an Iceberg table: appends are snapshot commits,
resume reads the last committed snapshot, time travel replaces the
reference's timestamped-backup lineage (R5, `tools/fix_ocr.py:95-103`).
This sandbox has no Iceberg runtime jars (verified absent), so the same
contract is provided by a thin shim: a parquet directory per snapshot +
an append-only `_snapshots.json` manifest. The resume logic and the
engine code are identical either way — swap `SnapshotTable` for
`spark.table("catalog.db.t")` + MERGE on a real cluster.

Commit protocol (crash-safe): ``append`` writes the data to
``snap-<id>/``, then its lineage rows (if any) to
``<lineage_path>/snap-<id>/``, then atomically replaces the manifest
(write-temp + rename) with an entry recording the data's schema and
whether it has lineage: one replace publishes all three. A directory
without a manifest entry is invisible — Iceberg's uncommitted-data
behavior — and the rerun overwrites it. Reads take their schemas from
the manifest, never from a file footer, so building one runs no job.

Single writer: one run appends at a time; two would take one id. No
lock file guards this: a killed run's lock would block its own rerun.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class SnapshotTable:
    def __init__(self, path: str, lineage_path: str | None = None) -> None:
        self.path = Path(path)
        self.path.mkdir(parents=True, exist_ok=True)
        self.lineage_path = None if lineage_path is None else Path(lineage_path)

    @property
    def _manifest(self) -> Path:
        return self.path / "_snapshots.json"

    def snapshots(self) -> list[dict]:
        if not self._manifest.exists():
            return []
        return json.loads(self._manifest.read_text())

    def last_snapshot_id(self) -> int:
        snaps = self.snapshots()
        return snaps[-1]["snapshot_id"] if snaps else -1

    def append(
        self, df: DataFrame, meta: dict | None = None, lineage: Callable | None = None
    ) -> int:
        """Write ``df`` as a new committed snapshot; returns snapshot id.
        ``lineage(id)`` builds the snapshot's lineage rows, written under
        ``lineage_path`` and published by the same commit."""
        sid = self.last_snapshot_id() + 1
        data_dir = self.path / f"snap-{sid:06d}"
        df.write.mode("overwrite").parquet(str(data_dir))
        if lineage is not None:
            lineage(sid).write.mode("overwrite").parquet(str(self.lineage_path / data_dir.name))
        snaps = self.snapshots()
        snaps.append({"snapshot_id": sid, "dir": data_dir.name, "schema": df.schema.jsonValue(),
                      "lineage": lineage is not None, "meta": meta or {}})
        tmp = self._manifest.with_suffix(".json.tmp")
        tmp.write_text(json.dumps(snaps, indent=1))
        os.replace(tmp, self._manifest)
        return sid

    def read(self, spark: SparkSession, upto_snapshot: int | None = None) -> DataFrame | None:
        """Union of all committed snapshots (optionally time-traveled),
        read with their recorded schemas merged in first-appearance
        order: a column missing from one snapshot reads as null there."""
        snaps = self.snapshots()
        if upto_snapshot is not None:
            snaps = [s for s in snaps if s["snapshot_id"] <= upto_snapshot]
        if not snaps:
            return None
        fields = {}
        for s in snaps:
            for f in StructType.fromJson(s["schema"]).fields:
                fields.setdefault(f.name, f)
        paths = [str(self.path / s["dir"]) for s in snaps]
        return spark.read.schema(StructType(list(fields.values()))).parquet(*paths)

    def read_lineage(self, spark: SparkSession, schema: StructType) -> DataFrame | None:
        """Lineage rows of the committed snapshots appended with lineage."""
        paths = [str(self.lineage_path / s["dir"]) for s in self.snapshots() if s["lineage"]]
        return spark.read.schema(schema).parquet(*paths) if paths else None
