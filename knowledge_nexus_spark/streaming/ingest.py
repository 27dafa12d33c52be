"""Incremental ingest via Structured Streaming.

The reference's incremental story is batch CDC keyed on last_edited_time
(notion_provider.py:315-319; neo4j_manager.py:183-186). Here the same
semantics run continuously: a file-source stream of document batches, each
micro-batch committed by ``foreachBatch`` through the protocol of
storage.merge, the one operators/refresh.py runs:

1. freshness dedup within the batch;
2. admission against a per-subject watermark sidecar (``_meta_path``):
   only documents with no stored time or a strictly newer one pass, so a
   late batch carrying an OLDER version never regresses the snapshot;
3. the triples of pipeline.fused_docs_projection (the same extraction as
   every batch entry point), MERGEd into the edges snapshot as a keyed
   DELETE+INSERT on subj. Every triple's subj is its source document's
   normalized id, so deleting the admitted documents' subj keys and
   inserting their re-extracted triples is exact last-writer-wins: a
   re-edited document's REMOVED links (and an archived document's whole
   content) leave the snapshot;
4. the watermark merged LAST, so an epoch that fails midway is re-admitted
   whole when Structured Streaming replays it, and a replay of a finished
   epoch admits nothing.

Scale design — the MERGE is PARTITION-SCOPED: the edges snapshot and its
watermark are bucketed on the same key, and one touched-bucket list per
epoch (the buckets of the batch's documents) prunes the watermark read
and scopes both merges. Work per batch is O(batch ∪ touched partitions),
not O(total snapshot), so the stream never falls behind its own history.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from knowledge_nexus_spark.functions.ids import normalize_uuid
from knowledge_nexus_spark.operators.graphops import distinct_triples, edit_time, freshness_dedup
from knowledge_nexus_spark.pipeline import PipelineConfig, fused_docs_projection, projection_graph
from knowledge_nexus_spark.schema import DOCUMENTS_SCHEMA
from knowledge_nexus_spark.storage.merge import (
    admit_newer,
    bucket_of,
    merge_bucketed,
    read_bucketed,
)

_EXTRACT_CFG = PipelineConfig(render_content=False)


def _strings(*names: str) -> T.StructType:
    return T.StructType([T.StructField(n, T.StringType(), True) for n in names])


_EDGES_SCHEMA = _strings("subj", "pred", "obj", "context")
_META_SCHEMA = _strings("subj", "last_edited_time")


def _meta_path(edges_path: str) -> str:
    """Sidecar per-subject freshness watermark (subj, last_edited_time),
    bucketed like the edges snapshot so both prune together."""
    return edges_path.rstrip("/") + "_meta"


def merge_edges_batch(batch_df: DataFrame, epoch_id: int, edges_path: str) -> None:
    """foreachBatch sink: freshness-dedup the batch, admit what is newer
    than the watermark, re-extract, and MERGE into the edges snapshot,
    touching only the partitions the batch's documents hash to.

    Last-writer-wins, exactly like operators/refresh.py: the delete key set
    is EVERY admitted document's normalized id (not just documents that
    still emit triples — a v2 that dropped its links, or was archived, must
    delete v1's edges), and two versions of one document inside a single
    micro-batch collapse to the newest before extraction. Admission is
    storage.merge.admit_newer, refresh's rule: a version whose parsed time
    (``edit_time``, so UTC offsets compare by instant) is not strictly
    newer than the stored watermark is rejected, so a replay is a no-op."""
    spark = batch_df.sparkSession
    meta_path = _meta_path(edges_path)
    touched = sorted(
        r.bucket
        for r in batch_df.select(bucket_of(F.col("doc_id")).alias("bucket")).distinct().collect()
    )
    stored_meta = read_bucketed(spark, meta_path, _META_SCHEMA).filter(
        F.col("bucket").isin(touched)  # partition-pruned
    )
    latest = freshness_dedup(batch_df).withColumn("subj", normalize_uuid(F.col("doc_id")))
    # a plain persist is safe: both merges stage their writes, and the
    # watermark this lineage reads is replaced last, after the last read
    latest = admit_newer(latest, stored_meta, "subj").persist(StorageLevel.MEMORY_AND_DISK)
    try:
        subjects = latest.select("subj").distinct()
        _, triples = projection_graph(
            fused_docs_projection(latest.drop("subj"), _EXTRACT_CFG), _EXTRACT_CFG
        )
        merge_bucketed(
            spark, edges_path, "subj", distinct_triples(triples), subjects, touched,
            _EDGES_SCHEMA,
        )
        new_meta = latest.groupBy("subj").agg(
            F.max_by("last_edited_time", edit_time(F.col("last_edited_time")))
            .alias("last_edited_time")
        )
        merge_bucketed(spark, meta_path, "subj", new_meta, subjects, touched, _META_SCHEMA)
    finally:
        latest.unpersist(blocking=True)


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
