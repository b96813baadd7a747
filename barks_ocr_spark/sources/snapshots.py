"""Snapshot-manifest table format (Iceberg-compatible resume semantics).

The production design is an Iceberg table: appends are snapshot commits,
resume reads the last committed snapshot, time travel replaces the
reference's timestamped-backup lineage (R5, `tools/fix_ocr.py:95-103`).
This sandbox has no Iceberg runtime jars (verified absent), so the same
contract is provided by a thin shim: a parquet directory per snapshot +
an append-only `_snapshots.json` manifest. The resume logic and the
engine code are identical either way — swap `SnapshotTable` for
`spark.table("catalog.db.t")` + MERGE on a real cluster.

Commit protocol (crash-safe): data is fully written to
``snap-<id>/`` first; the manifest is then replaced atomically
(write-temp + rename). A snapshot directory without a manifest entry is
invisible — exactly Iceberg's uncommitted-data behavior.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class SnapshotTable:
    def __init__(self, path: str) -> None:
        self.path = Path(path)
        self.path.mkdir(parents=True, exist_ok=True)

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

    def append(self, df: DataFrame, meta: dict | None = None) -> int:
        """Write ``df`` as a new committed snapshot; returns snapshot id."""
        sid = self.last_snapshot_id() + 1
        data_dir = self.path / f"snap-{sid:06d}"
        df.write.mode("overwrite").parquet(str(data_dir))
        snaps = self.snapshots()
        snaps.append(
            {"snapshot_id": sid, "dir": data_dir.name, "meta": meta or {}}
        )
        tmp = self._manifest.with_suffix(".json.tmp")
        tmp.write_text(json.dumps(snaps, indent=1))
        os.replace(tmp, self._manifest)
        return sid

    def read(
        self,
        spark: SparkSession,
        upto_snapshot: int | None = None,
        schema: StructType | None = None,
    ) -> DataFrame | None:
        """Union of all committed snapshots (optionally time-traveled).

        ``schema`` reads just those columns of a known type and skips
        inferring the schema from a file footer, a Spark job of its own."""
        snaps = self.snapshots()
        if upto_snapshot is not None:
            snaps = [s for s in snaps if s["snapshot_id"] <= upto_snapshot]
        if not snaps:
            return None
        paths = [str(self.path / s["dir"]) for s in snaps]
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(*paths)
