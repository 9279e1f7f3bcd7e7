"""Minimal snapshot-table layer on Parquet (Iceberg analog).

The target deployment uses Iceberg tables (BASELINE.json north rule);
this sandbox has no Iceberg jars (SURVEY §7), so this module implements
the same commit semantics on plain Parquet:

    warehouse/<table>/snap-<k>/part-*.parquet     (immutable data)
    warehouse/<table>/snap-<k>/manifest.json      (per-partition lineage)
    warehouse/<table>/_meta.json                  (current pointer + log)

Semantics preserved (reference analogs):
- never update in place — every write is a NEW snapshot (the Spark-side
  equivalent of the reference's WATCH/MULTI atomic job updates,
  job_manager.py:210-273: last-commit-wins pointer swap);
- resume-from-any-snapshot (read_snapshot(table, k));
- per-partition row counts recorded per snapshot (the north rule's
  "per-partition lineage + metrics");
- the written schema recorded per snapshot, so a read plans from the
  log alone (Iceberg reads its schema from table metadata too) and
  launches no Parquet schema-inference job.

Swapping in real Iceberg is a config change: the call sites use only
``commit`` / ``read`` / ``current_id``.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType


def _as_nullable(dt: DataType) -> DataType:
    """``dt`` with every field, array element and map value nullable —
    the form Parquet reads every column back in."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(dt.keyType, _as_nullable(dt.valueType), True)
    return dt


class SnapshotWarehouse:
    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- metadata ----------------------------------------------------------
    def _meta_path(self, table: str) -> str:
        return os.path.join(self.root, table, "_meta.json")

    def _load_meta(self, table: str) -> dict:
        path = self._meta_path(table)
        if not os.path.exists(path):
            return {"current": None, "snapshots": []}
        with open(path) as f:
            return json.load(f)

    def _store_meta(self, table: str, meta: dict) -> None:
        path = self._meta_path(table)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1)
        os.replace(tmp, path)  # atomic pointer swap

    def current_id(self, table: str) -> int | None:
        return self._load_meta(table)["current"]

    def snapshots(self, table: str) -> list[dict]:
        return self._load_meta(table)["snapshots"]

    # -- IO ------------------------------------------------------------------
    def _snap_dir(self, table: str, snap_id: int) -> str:
        return os.path.join(self.root, table, f"snap-{snap_id:05d}")

    def commit(
        self,
        df: DataFrame,
        table: str,
        wave: int | None = None,
        extra: dict | None = None,
    ) -> int:
        """Write df as the table's next snapshot; returns snapshot id.

        Lineage: per-output-partition row counts from the written
        files' footers (count-after-write would rescan). The entry
        records the schema as ``read`` will see it (all nullable)."""
        meta = self._load_meta(table)
        snap_id = (meta["current"] + 1) if meta["current"] is not None else 0
        path = self._snap_dir(table, snap_id)

        df.write.mode("errorifexists").parquet(path)

        # lineage from the parquet FOOTERS (pyarrow metadata read — no
        # Spark job, no data scan; one output file ≙ one partition)
        partitions = self._footer_lineage(path)
        n_rows = sum(p["n_rows"] for p in partitions)

        entry = {
            "id": snap_id,
            "wave": wave,
            "n_rows": n_rows,
            "n_partitions": len(partitions),
            "partitions": partitions,
            "schema": _as_nullable(df.schema).json(),
            "committed_at": time.time(),
        }
        if extra:
            entry.update(extra)
        meta["snapshots"].append(entry)
        meta["current"] = snap_id
        self._store_meta(table, meta)
        return snap_id

    @staticmethod
    def _footer_lineage(path: str) -> list[dict]:
        import pyarrow.parquet as pq

        parts = []
        pid = 0
        for root, _dirs, files in sorted(os.walk(path)):
            for fn in sorted(files):
                if not fn.endswith(".parquet"):
                    continue
                n = pq.ParquetFile(os.path.join(root, fn)).metadata.num_rows
                parts.append({"pid": pid, "n_rows": int(n)})
                pid += 1
        return parts

    def read(
        self, spark: SparkSession, table: str, snap_id: int | None = None
    ) -> DataFrame:
        meta = self._load_meta(table)
        if snap_id is None:
            snap_id = meta["current"]
        if snap_id is None:
            raise FileNotFoundError(f"table {table} has no snapshots")
        entry = next((s for s in meta["snapshots"] if s["id"] == snap_id), None)
        if entry is None:
            raise FileNotFoundError(f"table {table} has no snapshot {snap_id}")
        path = self._snap_dir(table, snap_id)
        if "schema" not in entry:  # written before schemas were recorded
            return spark.read.parquet(path)
        schema = StructType.fromJson(json.loads(entry["schema"]))
        return spark.read.schema(schema).parquet(path)

    def rollback_above(self, table: str, wave: int) -> list[int]:
        """Drop every snapshot committed for a wave LATER than ``wave``
        (crash recovery: a wave's table commits are not atomic as a
        group, so orphan snapshots from a partially-committed wave must
        be rolled back before re-running it). Returns dropped ids."""
        import shutil

        meta = self._load_meta(table)
        keep = [s for s in meta["snapshots"] if (s.get("wave") or 0) <= wave]
        drop = [s for s in meta["snapshots"] if (s.get("wave") or 0) > wave]
        if not drop:
            return []
        meta["snapshots"] = keep
        meta["current"] = keep[-1]["id"] if keep else None
        self._store_meta(table, meta)
        dropped = []
        for s in drop:
            shutil.rmtree(self._snap_dir(table, s["id"]), ignore_errors=True)
            dropped.append(s["id"])
        return dropped

    def expire_snapshots(self, table: str, keep_last: int) -> list[int]:
        """TTL analog (reference Redis setex 24h, job_manager.py:62):
        drop all but the newest ``keep_last`` snapshots."""
        import shutil

        meta = self._load_meta(table)
        snaps = meta["snapshots"]
        if len(snaps) <= keep_last:
            return []
        drop = snaps[:-keep_last]
        meta["snapshots"] = snaps[-keep_last:]
        self._store_meta(table, meta)
        dropped = []
        for s in drop:
            shutil.rmtree(self._snap_dir(table, s["id"]), ignore_errors=True)
            dropped.append(s["id"])
        return dropped
