"""Incremental ingest via Structured Streaming.

The reference's incremental story is batch CDC keyed on last_edited_time
(notion_provider.py:315-319; neo4j_manager.py:183-186). Here the same
semantics run continuously: a file-source stream of document batches →
freshness dedup within the batch → stored-watermark admission (a
per-subject last_edited_time sidecar rejects out-of-order OLDER document
versions, refresh.py's CDC guard carried across batches) → the triples of
pipeline.fused_docs_projection (the same extraction as every batch entry
point) → ``foreachBatch`` MERGE into the edges snapshot as a keyed
DELETE+INSERT: every triple's subj is its source document's normalized
id, so deleting the batch documents' subj keys and inserting their
re-extracted triples is exact last-writer-wins — a re-edited document's
REMOVED links (and an archived document's whole content) leave the
snapshot, matching operators/refresh.py's batch semantics. Exactly-once
comes from the streaming checkpoint + the idempotent merge, mirroring
Iceberg MERGE in production.

Scale design — the MERGE is PARTITION-SCOPED: the edges snapshot and its
watermark sidecar are bucketed tables merged by storage.merge.merge_bucketed
(the MERGE refresh runs), so each micro-batch reads and rewrites ONLY the
partitions its own subjects touch. Work per batch is O(batch ∪ touched
partitions), not O(total snapshot), so the stream never falls behind its
own history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from knowledge_nexus_spark.functions.ids import normalize_uuid
from knowledge_nexus_spark.operators.graphops import distinct_triples, edit_time, freshness_dedup
from knowledge_nexus_spark.pipeline import PipelineConfig, fused_docs_projection, projection_graph
from knowledge_nexus_spark.schema import DOCUMENTS_SCHEMA
from knowledge_nexus_spark.storage.merge import (
    bucket_of,
    merge_bucketed,
    read_bucketed,
    snapshot_exists,
)

_EXTRACT_CFG = PipelineConfig(render_content=False)


def _strings(*names: str) -> T.StructType:
    return T.StructType([T.StructField(n, T.StringType(), True) for n in names])


_EDGES_SCHEMA = _strings("subj", "pred", "obj", "context")
_META_SCHEMA = _strings("subj", "last_edited_time")


def _meta_path(edges_path: str) -> str:
    """Sidecar per-subject freshness watermark (subj, last_edited_time),
    bucket-partitioned with the SAME hash as the edges snapshot so both
    prune together. This is what makes the MERGE safe under out-of-order
    delivery: refresh.py guards with a stored-watermark comparison and the
    streaming path must too, or a late batch carrying an OLDER version of
    a document would delete the newer edges and re-insert stale ones."""
    return edges_path.rstrip("/") + "_meta"


def merge_edges_batch(batch_df: DataFrame, epoch_id: int, edges_path: str) -> None:
    """foreachBatch sink: freshness-dedup the batch, re-extract, and MERGE
    into the running edges snapshot as a keyed delete+insert, touching only
    the partitions the batch's documents hash to.

    Last-writer-wins, exactly like operators/refresh.py: the delete key set
    is EVERY batch document's normalized id (not just documents that still
    emit triples — a v2 that dropped its links, or was archived, must
    delete v1's edges), and two versions of one document inside a single
    micro-batch collapse to the newest before extraction.

    Out-of-order-safe: a per-subject watermark sidecar (``_meta_path``)
    stores each document's last applied ``last_edited_time``; batch rows
    whose parsed time (``edit_time``, so UTC offsets compare by instant)
    is older than the stored watermark are REJECTED before the delete key
    set is built, so a late/backfilled batch carrying an older version can
    never regress the snapshot — the streaming equivalent of refresh.py's
    strictly-newer CDC filter.

    Idempotent under retries: admission is ``>=`` the stored watermark, so
    replaying the last batch re-admits the same rows and the merge
    rewrites identical bytes; no epoch-suffixed staging dirs to leak."""
    spark = batch_df.sparkSession
    meta_path = _meta_path(edges_path)
    latest = freshness_dedup(batch_df).withColumn(
        "subj", normalize_uuid(F.col("doc_id"))
    ).withColumn("bucket", bucket_of(F.col("subj")))

    has_meta = snapshot_exists(spark, meta_path)
    if has_meta:
        cand_buckets = [
            r.bucket for r in latest.select("bucket").distinct().collect()
        ]
        if not cand_buckets:
            return
        stored_meta = (
            read_bucketed(spark, meta_path, _META_SCHEMA)
            .filter(F.col("bucket").isin(cand_buckets))  # partition-pruned
            .select("subj", F.col("last_edited_time").alias("_stored_ts"))
        )
        latest = (
            latest.join(stored_meta, "subj", "left")
            .filter(
                F.col("_stored_ts").isNull()
                | (edit_time(F.col("last_edited_time")) >= edit_time(F.col("_stored_ts")))
            )
            .drop("_stored_ts")
        )

    # cuts the lineage to the meta files the second merge overwrites
    latest = latest.drop("bucket").localCheckpoint(eager=True)
    subjects = latest.select("subj").distinct()
    _, triples = projection_graph(
        fused_docs_projection(latest.drop("subj"), _EXTRACT_CFG), _EXTRACT_CFG
    )
    merge_bucketed(
        spark, edges_path, "subj", distinct_triples(triples), subjects, _EDGES_SCHEMA,
        snapshot_exists(spark, edges_path),
    )
    # advance the watermark of the admitted docs — same bucketed MERGE
    new_meta = latest.groupBy("subj").agg(
        F.max_by("last_edited_time", edit_time(F.col("last_edited_time")))
        .alias("last_edited_time")
    )
    merge_bucketed(spark, meta_path, "subj", new_meta, subjects, _META_SCHEMA, has_meta)


def incremental_ingest(
    spark: SparkSession,
    input_dir: str,
    edges_path: str,
    checkpoint_dir: str,
    process_all: bool = True,
):
    """Stream document parquet drops from ``input_dir`` into the edges
    snapshot. With ``process_all`` the call drains everything currently
    available and stops (the hermetic test mode); otherwise returns the
    running StreamingQuery."""
    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda df, eid: merge_edges_batch(df, eid, edges_path)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if process_all:
        q.awaitTermination()
        return None
    return q
