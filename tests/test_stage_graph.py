"""One stage graph: the checkpointed ``run_pipeline`` and the in-memory
``build_graph`` run the same fused projection, so their stage outputs are
multiset-equal; each committed stage's sidecar agrees with its snapshot;
the projection's memoized Columns are keyed on the SparkContext object."""

from collections import Counter
import json
import os

import pytest
from pyspark.sql import types as T

from knowledge_nexus_spark.datagen import CorpusConfig, generate_documents
from knowledge_nexus_spark.pipeline import (
    PipelineConfig,
    _projection_columns,
    _projection_key,
    build_graph,
    run_pipeline,
)
from knowledge_nexus_spark.storage.checkpoint import META_FILE

# hubs, stale duplicates, archived + trashed docs, bookmarks and dangling
# links all at rates high enough that 150 docs hold several of each
HOSTILE = CorpusConfig(
    n_docs=150, seed=7, archived_rate=0.1, trash_rate=0.08, dup_rate=0.1,
    dangling_rate=0.1, hub_rate=0.25,
)
STAGES = ("s1_documents", "s2_triples_raw", "s3_nodes", "s4_chunks", "s6_edges")


def _bag(df, cols=None):
    return Counter(tuple(r) for r in df.select(*(cols or df.columns)).collect())


@pytest.mark.parametrize(
    "cfg",
    [
        PipelineConfig(),
        PipelineConfig(add_archived=True, add_removed=True, create_unprocessed=True),
    ],
    ids=["default", "archived_removed_unprocessed"],
)
def test_run_pipeline_equals_build_graph(spark, tmp_path, cfg):
    docs = generate_documents(spark, HOSTILE)
    flags = docs.selectExpr(
        "sum(int(archived)) a", "sum(int(in_trash)) t", "count(*) - count(distinct doc_id) d"
    ).first()
    assert flags.a > 0 and flags.t > 0 and flags.d > 0

    wd = str(tmp_path)
    _ck, nodes, edges, _chunks = run_pipeline(spark, docs, wd, cfg)
    res = build_graph(spark, docs, cfg)
    try:
        tri_cols = ["subj", "pred", "obj", "context"]
        raw = spark.read.parquet(f"{wd}/s2_triples_raw")
        assert _bag(raw, tri_cols) == _bag(res.triples_raw, tri_cols)
        # s3_nodes, plus the synthesized Unprocessed endpoints when
        # create_unprocessed (s7_nodes_final — build_graph adds them too)
        want_nodes = _bag(res.nodes)
        assert _bag(nodes, res.nodes.columns) == want_nodes
        if not cfg.create_unprocessed:
            s3 = spark.read.parquet(f"{wd}/s3_nodes")
            assert _bag(s3, res.nodes.columns) == want_nodes
        assert any(t == "Bookmark" for (_i, _ti, t, *_r) in want_nodes)
        assert _bag(edges.filter("pred <> 'HAS_CHUNK'"), tri_cols) == _bag(res.edges, tri_cols)
    finally:
        res.unpersist()


def test_stage_sidecar_matches_snapshot(spark, tmp_path):
    docs = generate_documents(spark, CorpusConfig(n_docs=60, seed=11))
    wd = str(tmp_path)
    ck, nodes, edges, chunks = run_pipeline(spark, docs, wd, PipelineConfig())
    for stage in STAGES:
        meta = json.load(open(os.path.join(wd, stage, META_FILE)))
        loaded = ck.load(stage)  # footer inference, as on resume
        assert meta["row_count"] == loaded.count() > 0, stage
        assert sum(p["rows"] for p in meta["partition_counts"]) == meta["row_count"], stage
        assert meta["n_partitions"] == len(meta["partition_counts"]), stage
        assert T.StructType.fromJson(meta["schema"]) == loaded.schema, stage
    # the committed re-reads run_pipeline hands back carry the same schema
    for stage, df in (("s3_nodes", nodes), ("s6_edges", edges), ("s4_chunks", chunks)):
        assert df.schema == ck.load(stage).schema, stage


def test_projection_columns_keyed_on_spark_context(spark):
    sc = spark.sparkContext
    other = object()  # stands in for a restarted session's new context
    assert _projection_key(sc, True) == _projection_key(sc, True)
    assert _projection_key(sc, True) != _projection_key(other, True)
    assert _projection_key(sc, True) != _projection_key(sc, False)

    cols = _projection_columns(sc, True)
    assert _projection_columns(sc, True) is cols
    assert _projection_columns(sc, False) is not cols
    assert _projection_columns(other, True) is not cols
    # a context change rebuilds, and drops the old context's entries
    assert _projection_columns(sc, True) is not cols


def test_graph_result_unpersist_releases_every_persisted_frame(spark):
    """build_graph persists the fused projection, the raw triples and, for
    the media branch, the deduped documents; ``unpersist`` frees them all.
    Compared as RDD-id sets: the context cleaner may drop other tests'
    cached RDDs meanwhile, which only shrinks the set."""
    jsc = spark.sparkContext._jsc

    def cached_ids():
        return set(jsc.getPersistentRDDs().keySet())

    before = cached_ids()
    res = build_graph(
        spark, generate_documents(spark, CorpusConfig(n_docs=40, seed=9173)),
        PipelineConfig(render_content=False, with_media=True),
    )
    assert res.edges.count() > 0 and res.nodes.count() > 0
    assert len(cached_ids() - before) == 3
    res.unpersist()
    assert cached_ids() <= before
