"""Per-stage checkpointing with a JSON manifest: stage outputs are parquet
snapshots; the manifest records row counts, per-file (per-partition) lineage
counters, wall time and the snapshot's schema. A re-run skips every stage
whose snapshot is complete — mid-pipeline resume for free (the reference has
no resume at all; its staging DB is deleted at exit, src/input.rs temp-db
lifecycle).

The manifest is the snapshots' log, as Delta Lake's log is its table's: a
snapshot is read with the schema its entry records, so neither the read
after a write nor a resume runs Spark's schema-inference job. An entry
without a schema (a manifest written before schemas were recorded) counts
as incomplete, and that stage is recomputed."""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType


def _as_nullable(dt: DataType) -> DataType:
    """The type a parquet read infers for data written as `dt`: Spark
    writes every field, array element and map value as nullable."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in dt]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


class CheckpointManager:
    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.workdir = workdir
        os.makedirs(workdir, exist_ok=True)
        self.manifest_path = os.path.join(workdir, "manifest.json")
        self.manifest: dict = {"stages": {}}
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path, encoding="utf-8") as f:
                self.manifest = json.load(f)

    def _save(self) -> None:
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(self.manifest, f, indent=2, sort_keys=True)
        os.replace(tmp, self.manifest_path)

    def _stage_path(self, name: str) -> str:
        return os.path.join(self.workdir, f"stage_{name}.parquet")

    def is_complete(self, name: str) -> bool:
        entry = self.manifest["stages"].get(name, {})
        success = os.path.join(self._stage_path(name), "_SUCCESS")
        return "schema" in entry and os.path.exists(success)

    def read(self, name: str) -> DataFrame:
        """Stage `name`'s snapshot, read with the schema its entry records."""
        schema = StructType.fromJson(self.manifest["stages"][name]["schema"])
        return self.spark.read.schema(schema).parquet(self._stage_path(name))

    def run_stage(self, name: str, build: "callable") -> DataFrame:
        """Run `build()` -> DataFrame, snapshot it, record lineage; or load
        the existing snapshot if this stage already completed."""
        path = self._stage_path(name)
        if self.is_complete(name):
            return self.read(name)

        t0 = time.time()
        df = build()
        df.write.mode("overwrite").parquet(path)
        # Per-partition lineage counters from the parquet FOOTERS of the files
        # just written — metadata-only driver-side reads (KBs per file), not a
        # second full scan of the snapshot (the old shape re-read the whole
        # stage output to groupBy input_file_name, doubling stage read I/O).
        lineage = self._footer_counts(path)
        self.manifest["stages"][name] = {
            "path": path,
            "rows": int(sum(lineage.values())),
            "n_partitions": len(lineage),
            "partition_rows": lineage,
            "wall_sec": round(time.time() - t0, 3),
            "resumed": False,
            "schema": _as_nullable(df.schema).jsonValue(),
        }
        self._save()
        return self.read(name)

    @staticmethod
    def _footer_counts(path: str) -> dict[str, int]:
        import pyarrow.parquet as pq

        counts: dict[str, int] = {}
        for fn in sorted(os.listdir(path)):
            if fn.startswith(("_", ".")) or not fn.endswith(".parquet"):
                continue
            counts[fn] = pq.read_metadata(os.path.join(path, fn)).num_rows
        return counts

    def stage_metrics(self) -> dict:
        """Each stage's manifest entry without the schema it records."""
        return {
            name: {k: v for k, v in entry.items() if k != "schema"}
            for name, entry in self.manifest["stages"].items()
        }
