"""Stage checkpointing with per-partition lineage metrics and resume.

Plays the role of the reference's stage caches (cache_util.py:57-120 —
versioned, TTL'd JSON blobs that short-circuit a stage on load,
notion_provider.py:80-91, content_chunker_and_embedder.py:151-158) and of
Iceberg snapshot commits in production: each stage writes parquet + a
_STAGE_META.json sidecar (row count, per-partition counts, schema
version); a stage whose committed snapshot exists is NOT recomputed on
rerun. In production swap the parquet dir for an Iceberg table — the
commit protocol (write, then publish meta) is the same shape.

Each commit is ONE Spark job, the write itself: the row count rides on
the write as an ``observe()`` metric, the per-partition counts (one per
write task, satisfying the north-star's "per-partition lineage and
triple-count metrics") come from the written part files' parquet footers
read on the driver, and the snapshot is re-read with its declared schema,
so there is neither a second scan of the data nor a schema-inference job.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

META_FILE = "_STAGE_META.json"
FORMAT_VERSION = 1


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, array element and map value nullable — the
    schema Spark's parquet reader reports for files written from ``dt``."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _footer_partition_counts(path: str) -> list[dict]:
    """Rows per write task, summed over the task's part files
    (``part-<task>-<uuid>...parquet``), from each file's parquet footer."""
    rows: dict[int, int] = {}
    for fname in os.listdir(path):
        if fname.startswith("part-") and fname.endswith(".parquet"):
            task = int(fname.split("-", 2)[1])
            meta = pq.read_metadata(os.path.join(path, fname))
            rows[task] = rows.get(task, 0) + meta.num_rows
    return [{"partition": p, "rows": n} for p, n in sorted(rows.items())]


@dataclass
class StageCheckpointer:
    spark: SparkSession
    base_dir: str
    metrics: dict = field(default_factory=dict)
    ttl_seconds: float | None = None  # cache_util.py:91-93 TTL gate

    def _path(self, name: str) -> str:
        return os.path.join(self.base_dir, name)

    def _meta_path(self, name: str) -> str:
        return os.path.join(self._path(name), META_FILE)

    def is_committed(self, name: str) -> bool:
        """A snapshot counts only if its meta exists, its format version
        matches (cacheable.py:29-31 version gate → recompute on mismatch),
        and it is younger than the TTL when one is set."""
        mp = self._meta_path(name)
        if not os.path.exists(mp):
            return False
        try:
            with open(mp) as f:
                meta = json.load(f)
        except (json.JSONDecodeError, OSError):
            return False
        if meta.get("format_version") != FORMAT_VERSION:
            return False
        if self.ttl_seconds is not None:
            age = time.time() - meta.get("committed_at_epoch", 0)
            if age > self.ttl_seconds:
                return False
        return True

    def save(self, name: str, df: DataFrame) -> DataFrame:
        """Write the stage output + metrics sidecar in one Spark job; returns
        the re-read DataFrame (so downstream stages scan the snapshot,
        cutting lineage)."""
        path = self._path(name)
        counted = Observation()
        df.observe(counted, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).parquet(path)
        part_counts = _footer_partition_counts(path)
        schema = _nullable(df.schema)
        meta = {
            "format_version": FORMAT_VERSION,
            "stage": name,
            "committed_at_epoch": time.time(),
            "row_count": counted.get["rows"],
            "n_partitions": len(part_counts),
            "partition_counts": part_counts,
            "schema": schema.jsonValue(),
        }
        tmp_meta = self._meta_path(name) + ".tmp"
        with open(tmp_meta, "w") as f:
            json.dump(meta, f)
        os.replace(tmp_meta, self._meta_path(name))  # atomic publish = commit
        self.metrics[name] = {k: meta[k] for k in ("row_count", "n_partitions")}
        return self.spark.read.schema(schema).parquet(path)

    def load(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self._path(name))

    def load_or_compute(self, name: str, compute) -> DataFrame:
        """Resume semantics: committed snapshot short-circuits the stage."""
        if self.is_committed(name):
            self.metrics[name] = {"resumed": True}
            return self.load(name)
        return self.save(name, compute())

    def invalidate(self, name: str) -> None:
        path = self._path(name)
        if os.path.exists(path):
            shutil.rmtree(path)

    def write_run_metrics(self) -> None:
        with open(os.path.join(self.base_dir, "_RUN_METRICS.json"), "w") as f:
            json.dump(self.metrics, f, indent=2)
