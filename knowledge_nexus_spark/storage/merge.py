"""The incremental commit shared by batch refresh and the stream sink
(S9-S11, J3): admit → staged bucket writes → watermark last.

1. **Admit** (``admit_newer``): join the stored watermark and keep the
   documents with no stored time or a strictly newer ``edit_time``.
2. **Staged bucket writes** (``merge_bucketed``): every table is
   hash-partitioned on the normalized document key,
   ``bucket = pmod(xxhash64(normalize_uuid(key)), N)``, so one list of
   touched buckets serves every table of a refresh or an epoch. A merge
   reads and rewrites ONLY those buckets: work per merge is
   O(changed ∪ touched buckets), never O(table) — the parquet emulation of
   an Iceberg ``MERGE INTO``'s file-level pruning.
3. **Watermark last**: the caller merges the watermark table after every
   other table. A run that fails before that leaves the old watermark, so
   a re-run re-admits the same documents and re-merges them (each merge is
   idempotent); strict admission then makes a replay of a finished run a
   no-op.

In production this is a literal ``MERGE INTO`` on Iceberg tables.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from knowledge_nexus_spark.functions.ids import normalize_uuid
from knowledge_nexus_spark.operators.graphops import edit_time

N_BUCKETS = 64


def bucket_of(key: Column) -> Column:
    """The bucket of a document key. Every table's key holds its document's
    id, raw (``doc_id``) or normalized (``subj``), so all of a document's
    rows land in one bucket whatever the table."""
    return F.pmod(F.xxhash64(normalize_uuid(key)), F.lit(N_BUCKETS)).cast("int")


def _fs_path(spark: SparkSession, path: str):
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return jpath, jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())


def snapshot_exists(spark: SparkSession, path: str) -> bool:
    """A table holds rows iff its root holds bucket partition dirs.
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
    DataFrame instead of throwing UNABLE_TO_INFER_SCHEMA, and a table that
    was never written reads as empty too. Partition pruning on ``bucket``
    is unaffected: the partition column is appended to the read schema."""
    full = T.StructType(schema.fields + [T.StructField("bucket", T.IntegerType(), True)])
    jroot, fs = _fs_path(spark, path)
    if not fs.exists(jroot):
        return spark.createDataFrame([], full)
    return spark.read.schema(full).parquet(path)


def admit_newer(rows: DataFrame, stored_meta: DataFrame, key_col: str) -> DataFrame:
    """The one admission rule: ``rows`` whose key has no stored watermark in
    ``stored_meta`` (key_col, last_edited_time), or a strictly newer one.
    Times compare as instants (``edit_time``), so UTC offsets agree. A tied
    re-edit is not admitted, in refresh and in the stream alike."""
    stored = stored_meta.select(key_col, F.col("last_edited_time").alias("_stored_ts"))
    return (
        rows.join(stored, key_col, "left")
        .filter(
            F.col("_stored_ts").isNull()
            | (edit_time(F.col("last_edited_time")) > edit_time(F.col("_stored_ts")))
        )
        .drop("_stored_ts")
    )


def merge_bucketed(
    spark: SparkSession,
    path: str,
    key_col: str,
    new_rows: DataFrame,
    changed_keys: DataFrame,
    touched: list[int],
    schema: T.StructType,
) -> None:
    """Keyed delete+insert: every stored row whose ``key_col`` is in
    ``changed_keys`` is replaced by ``new_rows`` (the rows of those keys).

    ``touched`` lists the buckets the changed keys hash into (every new
    row's bucket is among them). Only those buckets are read; their merged
    content is written to ``<path>/_staging``, one file per bucket, and
    each touched ``bucket=N`` dir is then swapped into place. A bucket that
    comes out empty has no staged dir and is just deleted. No file is
    replaced while a job still reads it, so nothing needs checkpointing,
    and the merge is idempotent: a bucket's merged content is a pure
    function of (stored bucket, changed keys, new rows). A table that does
    not exist yet reads as empty; an empty ``touched`` list merges
    nothing."""
    if not touched:
        return
    staging = f"{path}/_staging"
    stored = (
        read_bucketed(spark, path, schema)
        .filter(F.col("bucket").isin(touched))  # partition-pruned scan
        .join(changed_keys.select(key_col), key_col, "left_anti")
    )
    # whole buckets per task, so a bucket's files do not pile up per merge
    merged = stored.unionByName(
        new_rows.withColumn("bucket", bucket_of(F.col(key_col)))
    ).repartition("bucket")
    delete_snapshot(spark, staging)  # what a failed merge left behind
    merged.write.partitionBy("bucket").parquet(staging)

    jvm_path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    jstaging, fs = _fs_path(spark, staging)
    for b in touched:
        src, dst = jvm_path(f"{staging}/bucket={b}"), jvm_path(f"{path}/bucket={b}")
        fs.delete(dst, True)
        if fs.exists(src):
            fs.rename(src, dst)
    fs.delete(jstaging, True)
