"""The bucketed MERGE — keyed delete+insert into a bucket-partitioned
parquet table (S9-S11, J3), shared by batch refresh and the stream sink.

Every table is hash-partitioned on ``bucket = pmod(xxhash64(key), N)``.
A merge reads (partition-pruned) and rewrites (dynamic partition
overwrite) ONLY the buckets its changed keys hash into, so work per merge
is O(changed ∪ touched buckets), never O(table) — the parquet emulation of
an Iceberg ``MERGE INTO``'s file-level pruning. In production this is a
literal ``MERGE INTO`` / ``overwritePartitions`` on Iceberg tables.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

N_BUCKETS = 64


def bucket_of(col: Column) -> Column:
    return F.pmod(F.xxhash64(col), F.lit(N_BUCKETS)).cast("int")


def _fs_path(spark: SparkSession, path: str):
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return jpath, jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())


def snapshot_exists(spark: SparkSession, path: str) -> bool:
    """The dynamic-partition-overwrite committer writes NO root _SUCCESS
    marker — a snapshot exists iff the root holds bucket partition dirs.
    Hadoop FS API, so it holds on any scheme (file, hdfs, s3a)."""
    jroot, fs = _fs_path(spark, path)
    if not fs.exists(jroot):
        return False
    glob = fs.globStatus(spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path + "/bucket=*"))
    return glob is not None and len(glob) > 0


def delete_snapshot(spark: SparkSession, path: str) -> None:
    """Remove a table's (or one partition's) whole directory; a no-op when
    it does not exist."""
    jroot, fs = _fs_path(spark, path)
    if fs.exists(jroot):
        fs.delete(jroot, True)


def read_bucketed(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Read a bucketed table with its DECLARED schema — never footer
    inference — so an empty table (zero part files) reads as an empty
    DataFrame instead of throwing UNABLE_TO_INFER_SCHEMA. Partition
    pruning on ``bucket`` is unaffected: the partition column is appended
    to the read schema."""
    full = T.StructType(schema.fields + [T.StructField("bucket", T.IntegerType(), True)])
    return spark.read.schema(full).parquet(path)


def _delete_partition_dirs(spark: SparkSession, root: str, buckets: list[int]) -> None:
    """Remove bucket partition dirs that became empty (dynamic overwrite
    only rewrites partitions PRESENT in the output, so a fully-deleted
    bucket would otherwise keep its stale files)."""
    for b in buckets:
        delete_snapshot(spark, f"{root}/bucket={b}")


def merge_bucketed(
    spark: SparkSession,
    path: str,
    key_col: str,
    new_rows: DataFrame,
    changed_keys: DataFrame | None,
    schema: T.StructType,
    has_state: bool,
) -> None:
    """Keyed delete+insert: every stored row whose ``key_col`` is in
    ``changed_keys`` is replaced by ``new_rows`` (the rows of those keys).

    Only the buckets the changed keys hash into are read and rewritten —
    every new row's key is among changed_keys by construction, so its
    bucket is always touched. Buckets whose content disappears entirely
    are deleted explicitly. Idempotent under retries: a bucket's merged
    content is a pure function of (stored bucket, changed keys, new rows).
    Without ``has_state`` the new rows are written as the whole table and
    ``changed_keys`` is not read."""
    new_rows = new_rows.withColumn("bucket", bucket_of(F.col(key_col)))
    if not has_state:
        new_rows.write.mode("overwrite").partitionBy("bucket").parquet(path)
        return
    keys = changed_keys.withColumn("bucket", bucket_of(F.col(key_col)))
    touched = sorted(r.bucket for r in keys.select("bucket").distinct().collect())
    if not touched:
        return
    stored = (
        read_bucketed(spark, path, schema)
        .filter(F.col("bucket").isin(touched))  # partition-pruned scan
        .join(keys.select(key_col), key_col, "left_anti")
    )
    # localCheckpoint breaks the read→overwrite cycle on the table files
    merged = stored.unionByName(new_rows).localCheckpoint(eager=True)
    out_buckets = {r.bucket for r in merged.select("bucket").distinct().collect()}
    emptied = [b for b in touched if b not in out_buckets]
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        merged.write.mode("overwrite").partitionBy("bucket").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    _delete_partition_dirs(spark, path, emptied)
