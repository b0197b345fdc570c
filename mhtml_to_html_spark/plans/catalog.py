"""Snapshot/checkpoint catalog — Iceberg's layout in miniature.

No Iceberg jars ship in this environment (bare pyspark), so the crawl
checkpoints go through this seam instead: immutable Parquet data files
+ a JSON manifest per snapshot carrying snapshot id, parent pointer,
and per table its schema, row count and per-partition lineage (file →
rows), plus the round's fetch metrics. As in Iceberg, the row counts
come from the files the write produced (their parquet footers), never
from a scan of the data, and a load reads exactly the files the
manifest lists with the schema it records, so it runs no
schema-inference job: a listed file that is gone fails the load, one
that is corrupt fails the first read. The manifest is written to a temp
file and renamed into place, so a crash mid-write leaves the previous
snapshot the latest. If Iceberg jars appear, this class binds to real
Iceberg tables with no caller changes (same write/load/latest surface).

Writing a snapshot and reading it back also serves as the round's
lineage cut (the role ``localCheckpoint`` plays in iterative Spark
jobs) — each crawl round starts from files, not from a
6-rounds-deep lazy plan.
"""

from __future__ import annotations

import json
import os
import time
from typing import Any

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class SnapshotCatalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)

    # -- helpers -----------------------------------------------------------

    def _snap_dir(self, snapshot_id: int) -> str:
        return os.path.join(self.root, "snapshots", f"snap_{snapshot_id:06d}")

    def list_snapshots(self) -> list[int]:
        base = os.path.join(self.root, "snapshots")
        ids = []
        for name in os.listdir(base):
            if name.startswith("snap_") and os.path.exists(
                os.path.join(base, name, "manifest.json")
            ):
                ids.append(int(name.split("_")[1]))
        return sorted(ids)

    # -- write -------------------------------------------------------------

    def write_snapshot(
        self,
        tables: dict[str, DataFrame],
        metrics: dict[str, Any] | None = None,
        round_idx: int | None = None,
    ) -> int:
        existing = self.list_snapshots()
        snapshot_id = (existing[-1] + 1) if existing else 0
        parent = existing[-1] if existing else None
        snap_dir = self._snap_dir(snapshot_id)
        manifest: dict[str, Any] = {
            "snapshot_id": snapshot_id,
            "parent_id": parent,
            "round": round_idx,
            "created_ms": int(time.time() * 1000),
            "tables": {},
            "metrics": metrics or {},
        }
        for name, df in tables.items():
            path = os.path.join(snap_dir, name)
            df.write.mode("overwrite").parquet(path)
            # per-partition lineage: every data file with its row count,
            # read from the footers the write just produced (no Spark job)
            files = [
                {"file": f, "rows": pq.read_metadata(os.path.join(path, f)).num_rows}
                for f in sorted(os.listdir(path))
                if f.endswith(".parquet")
            ]
            manifest["tables"][name] = {
                "rows": sum(f["rows"] for f in files),
                "files": files,
                "schema": df.schema.json(),
            }
        path = os.path.join(snap_dir, "manifest.json")
        with open(path + ".tmp", "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(path + ".tmp", path)
        return snapshot_id

    # -- read ---------------------------------------------------------------

    def latest(self) -> dict[str, Any] | None:
        ids = self.list_snapshots()
        if not ids:
            return None
        return self.manifest(ids[-1])

    def manifest(self, snapshot_id: int) -> dict[str, Any]:
        with open(os.path.join(self._snap_dir(snapshot_id), "manifest.json")) as f:
            return json.load(f)

    def load_table(self, spark: SparkSession, snapshot_id: int, name: str) -> DataFrame:
        # every table's data files live in its own snapshot's directory
        table = self.manifest(snapshot_id)["tables"][name]
        path = os.path.join(self._snap_dir(snapshot_id), name)
        return spark.read.schema(StructType.fromJson(json.loads(table["schema"]))).parquet(
            *(os.path.join(path, f["file"]) for f in table["files"])
        )
