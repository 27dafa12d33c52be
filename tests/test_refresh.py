"""Incremental re-ingest (refresh_updated_pages parity): touch K of N docs,
re-run, exactly K re-extracted, final graph equals a full rebuild."""

import pytest
from pyspark.sql import functions as F

from knowledge_nexus_spark.datagen import CorpusConfig, generate_documents
from knowledge_nexus_spark.operators.refresh import refresh_updated
from knowledge_nexus_spark.pipeline import PipelineConfig, build_graph

CFG = CorpusConfig(n_docs=80, seed=13)
PCFG = PipelineConfig(render_content=False)


def _node_set(df):
    return {
        (r.id, r.title, r.type, r.url, r.source, r.last_edited_time)
        for r in df.select("id", "title", "type", "url", "source", "last_edited_time").collect()
    }


def _edge_set(df):
    return {(r.subj, r.pred, r.obj) for r in df.select("subj", "pred", "obj").collect()}


def test_refresh_reextracts_only_changed(spark, tmp_path):
    state = str(tmp_path / "state")
    docs_v1 = generate_documents(spark, CFG)
    n_docs = docs_v1.select("doc_id").distinct().count()

    r1 = refresh_updated(spark, docs_v1, state, PCFG)
    assert r1.n_changed == n_docs  # initial load processes everything

    # same snapshot again: nothing newer → zero re-extraction
    r_noop = refresh_updated(spark, docs_v1, state, PCFG)
    assert r_noop.n_changed == 0

    # touch K non-archived docs: newer ts, new title, fewer link spans
    k = 5
    touched = [
        r.doc_id
        for r in docs_v1.filter(~F.col("archived") & ~F.col("in_trash"))
        .select("doc_id").distinct().orderBy("doc_id").limit(k).collect()
    ]
    updated = (
        docs_v1.filter(F.col("doc_id").isin(touched))
        .dropDuplicates(["doc_id"])
        .withColumn("last_edited_time", F.lit("2030-06-01T00:00:00.000001Z"))
        .withColumn("title", F.concat(F.col("title"), F.lit(" v2")))
        .withColumn("spans", F.filter("spans", lambda s: s["kind"] != "link_to_page"))
        # dropDuplicates picks an arbitrary version per evaluation — pin it
        # so refresh and the full rebuild see the same v2 rows
        .localCheckpoint(eager=True)
    )
    docs_v2 = docs_v1.unionByName(updated)

    r2 = refresh_updated(spark, docs_v2, state, PCFG)
    assert r2.n_changed == k, f"expected {k} re-extracted, got {r2.n_changed}"

    full = build_graph(spark, docs_v2, PCFG)
    assert _node_set(r2.nodes) == _node_set(full.nodes)
    assert _edge_set(r2.edges) == _edge_set(full.edges)
    # the touched docs really did change the graph
    assert any("v2" in t for (_i, t, *_rest) in _node_set(r2.nodes))


def _file_states(root):
    """{relative_path: (mtime_ns, size)} for every data file under root."""
    import os

    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_mtime_ns, st.st_size)
    return out


def _changed_buckets(before, after):
    """bucket=N partition names whose file set changed between snapshots."""
    diff = {p for p in set(before) | set(after) if before.get(p) != after.get(p)}
    return {p.split("/")[0] for p in diff if p.startswith("bucket=")}


def test_refresh_rewrites_only_touched_buckets(spark, tmp_path):
    """The scale property: a K-doc refresh must rewrite only the bucket
    partitions those K keys hash into — for EVERY state table, including
    the wide nodes table (round-2 rewrote nodes/meta/burls wholesale)."""
    state = str(tmp_path / "state")
    docs_v1 = generate_documents(spark, CFG)
    refresh_updated(spark, docs_v1, state, PCFG)

    k = 3
    touched = [
        r.doc_id
        for r in docs_v1.filter(~F.col("archived") & ~F.col("in_trash"))
        .select("doc_id").distinct().orderBy("doc_id").limit(k).collect()
    ]
    updated = (
        docs_v1.filter(F.col("doc_id").isin(touched))
        .dropDuplicates(["doc_id"])
        .withColumn("last_edited_time", F.lit("2031-01-01T00:00:00.000001Z"))
        .withColumn("title", F.concat(F.col("title"), F.lit(" v3")))
        .localCheckpoint(eager=True)
    )
    docs_v2 = docs_v1.unionByName(updated)

    before = {t: _file_states(f"{state}/{t}") for t in ("meta", "nodes", "burls", "triples")}
    r2 = refresh_updated(spark, docs_v2, state, PCFG)
    assert r2.n_changed == k
    for table, prev in before.items():
        changed = _changed_buckets(prev, _file_states(f"{state}/{table}"))
        n_buckets = len({p.split("/")[0] for p in prev if p.startswith("bucket=")})
        assert len(changed) <= k, f"{table}: rewrote {len(changed)} buckets for {k} docs"
        assert n_buckets > k, f"{table}: too few buckets ({n_buckets}) for the test to bind"

    full = build_graph(spark, docs_v2, PCFG)
    assert _node_set(r2.nodes) == _node_set(full.nodes)
    assert _edge_set(r2.edges) == _edge_set(full.edges)


def test_refresh_rechunks_only_changed(spark, tmp_path):
    """cfg.with_chunks: the chunk/embed stage is O(changed) too — the
    reference re-chunks exactly the changed pages
    (content_chunker_and_embedder.py:151-175) — and the merged chunk state
    equals a full re-chunk of the rebuilt corpus."""
    from knowledge_nexus_spark.operators.chunking import chunk_and_embed

    pcfg = PipelineConfig(render_content=True, with_chunks=True)
    state = str(tmp_path / "state")
    docs_v1 = generate_documents(spark, CFG)
    r1 = refresh_updated(spark, docs_v1, state, pcfg)
    assert r1.chunks is not None and r1.chunks.count() > 0

    k = 3
    touched = [
        r.doc_id
        for r in docs_v1.filter(~F.col("archived") & ~F.col("in_trash"))
        .select("doc_id").distinct().orderBy("doc_id").limit(k).collect()
    ]
    updated = (
        docs_v1.filter(F.col("doc_id").isin(touched))
        .dropDuplicates(["doc_id"])
        .withColumn("last_edited_time", F.lit("2032-01-01T00:00:00.000001Z"))
        .withColumn("title", F.concat(F.col("title"), F.lit(" v4")))
        .localCheckpoint(eager=True)
    )
    docs_v2 = docs_v1.unionByName(updated)

    before = _file_states(f"{state}/chunks")
    r2 = refresh_updated(spark, docs_v2, state, pcfg)
    assert r2.n_changed == k
    changed = _changed_buckets(before, _file_states(f"{state}/chunks"))
    assert 0 < len(changed) <= k  # exactly the changed docs' buckets re-chunked

    full = build_graph(spark, docs_v2, pcfg)
    want = chunk_and_embed(full.nodes, pcfg.chunk_size, pcfg.chunk_overlap, pcfg.embedding_dim)

    def chunk_set(df):
        return {
            (r.page_id, r.sequence, r.content, tuple(round(x, 6) for x in r.embedding))
            for r in df.collect()
        }

    assert chunk_set(r2.chunks) == chunk_set(want)


def _reedit(docs, k, offset, ts):
    """k non-archived docs (after skipping ``offset``) re-edited at ``ts``."""
    ids = [
        r.doc_id
        for r in docs.filter(~F.col("archived") & ~F.col("in_trash"))
        .select("doc_id").distinct().orderBy("doc_id").collect()[offset:offset + k]
    ]
    updated = (
        docs.filter(F.col("doc_id").isin(ids))
        .dropDuplicates(["doc_id"])
        .withColumn("last_edited_time", F.lit(ts))
        .withColumn("title", F.concat(F.col("title"), F.lit(" edited")))
        .withColumn("spans", F.slice("spans", 1, 2))
        .localCheckpoint(eager=True)
    )
    return docs.unionByName(updated)


def test_refresh_keeps_chunks_current_across_chunk_settings(spark, tmp_path):
    """chunks/ is current or absent whatever the earlier refreshes' chunk
    setting: a refresh with chunks over a state built without them chunks
    every page (it used to fail reading a chunks/ that was never written),
    and chunks of docs re-edited while chunking was off are not served
    stale by a later refresh with chunks, even one that changes nothing."""
    from knowledge_nexus_spark.operators.chunking import chunk_and_embed

    with_chunks = PipelineConfig(render_content=True, with_chunks=True)
    no_chunks = PipelineConfig(render_content=True, with_chunks=False)
    state = str(tmp_path / "state")

    def chunk_set(df):
        return {
            (r.page_id, r.sequence, r.content, tuple(round(x, 6) for x in r.embedding))
            for r in df.collect()
        }

    def rebuilt_chunks(docs):
        full = build_graph(spark, docs, with_chunks)
        try:
            return chunk_set(chunk_and_embed(
                full.nodes, with_chunks.chunk_size, with_chunks.chunk_overlap,
                with_chunks.embedding_dim,
            ))
        finally:
            full.unpersist()

    docs_v1 = generate_documents(spark, CFG)
    assert refresh_updated(spark, docs_v1, state, no_chunks).chunks is None

    docs_v2 = _reedit(docs_v1, 2, 0, "2033-01-01T00:00:00.000001Z")
    r2 = refresh_updated(spark, docs_v2, state, with_chunks)
    assert r2.n_changed == 2
    want_v2 = rebuilt_chunks(docs_v2)
    assert chunk_set(r2.chunks) == want_v2

    docs_v3 = _reedit(docs_v2, 2, 2, "2034-01-01T00:00:00.000001Z")
    assert refresh_updated(spark, docs_v3, state, no_chunks).n_changed == 2
    r4 = refresh_updated(spark, docs_v3, state, with_chunks)
    assert r4.n_changed == 0
    want_v3 = rebuilt_chunks(docs_v3)
    assert want_v3 != want_v2  # the v3 edits changed the chunks
    assert chunk_set(r4.chunks) == want_v3


def test_refresh_handles_new_and_archived_docs(spark, tmp_path):
    """A NEW doc appears; an existing doc flips to archived — refresh must
    add the former and remove the latter's node + triples, still equal to
    the full rebuild."""
    state = str(tmp_path / "state")
    docs_v1 = generate_documents(spark, CFG)
    refresh_updated(spark, docs_v1, state, PCFG)

    victim = (
        docs_v1.filter(~F.col("archived") & ~F.col("in_trash"))
        .select("doc_id").distinct().orderBy("doc_id").limit(1).collect()[0].doc_id
    )
    archived_row = (
        docs_v1.filter(F.col("doc_id") == victim)
        .dropDuplicates(["doc_id"])
        .withColumn("last_edited_time", F.lit("2030-01-01T00:00:00.000001Z"))
        .withColumn("archived", F.lit(True))
        .localCheckpoint(eager=True)
    )
    new_row = (
        archived_row.withColumn("doc_id", F.lit("brandnewdoc00000000000000000001"))
        .withColumn("archived", F.lit(False))
        .withColumn("title", F.lit("Brand New"))
        .localCheckpoint(eager=True)
    )
    docs_v2 = docs_v1.unionByName(archived_row).unionByName(new_row)

    r2 = refresh_updated(spark, docs_v2, state, PCFG)
    assert r2.n_changed == 2

    full = build_graph(spark, docs_v2, PCFG)
    assert _node_set(r2.nodes) == _node_set(full.nodes)
    assert _edge_set(r2.edges) == _edge_set(full.edges)
    ids = {i for (i, *_r) in _node_set(r2.nodes)}
    assert "brandnewdoc00000000000000000001" in ids
    assert victim not in ids  # archived → node dropped (add_archived=False)


def test_refresh_failed_midway_is_redone_by_the_next_refresh(spark, tmp_path, monkeypatch):
    """The watermark is merged last: a refresh that fails after merging
    some tables (here the triples merge raises) leaves meta/ as it was, so
    re-running it re-extracts the same docs and the state equals a full
    rebuild (with meta/ merged first the re-run refreshed 0 docs and kept
    the stale triples for good)."""
    import knowledge_nexus_spark.operators.refresh as refresh_mod

    state = str(tmp_path / "state")
    docs_v1 = generate_documents(spark, CFG)
    refresh_updated(spark, docs_v1, state, PCFG)
    docs_v2 = _reedit(docs_v1, 5, 0, "2035-01-01T00:00:00.000001Z")

    real = refresh_mod.merge_bucketed

    def failing(spark_, path, *args, **kwargs):
        if path.rstrip("/").endswith("/triples"):
            raise RuntimeError("injected failure in the triples merge")
        return real(spark_, path, *args, **kwargs)

    monkeypatch.setattr(refresh_mod, "merge_bucketed", failing)
    with pytest.raises(RuntimeError, match="injected"):
        refresh_updated(spark, docs_v2, state, PCFG)
    monkeypatch.setattr(refresh_mod, "merge_bucketed", real)

    r = refresh_updated(spark, docs_v2, state, PCFG)
    assert r.n_changed == 5
    full = build_graph(spark, docs_v2, PCFG)
    try:
        assert _node_set(r.nodes) == _node_set(full.nodes)
        assert _edge_set(r.edges) == _edge_set(full.edges)
    finally:
        full.unpersist()


def test_tied_reedit_in_later_drop_resolves_alike_in_stream_and_refresh(spark, tmp_path):
    """One admission rule: a later drop re-editing docs at their STORED
    last_edited_time (a tie) is not applied, through the stream sink as
    through refresh, so both leave the same triples for those docs."""
    from knowledge_nexus_spark.operators.graphops import freshness_dedup
    from knowledge_nexus_spark.pipeline import fused_docs_projection, projection_graph
    from knowledge_nexus_spark.streaming.ingest import merge_edges_batch

    state, edges = str(tmp_path / "state"), str(tmp_path / "edges")
    docs = generate_documents(spark, CFG)
    refresh_updated(spark, docs, state, PCFG)
    merge_edges_batch(docs, 0, edges)

    ids = [
        r.doc_id
        for r in docs.filter(~F.col("archived") & ~F.col("in_trash"))
        .select("doc_id").distinct().orderBy("doc_id").limit(5).collect()
    ]
    tied = (
        freshness_dedup(docs.filter(F.col("doc_id").isin(ids)))
        .withColumn("spans", F.filter("spans", lambda s: s["kind"] != "link_to_page"))
        .localCheckpoint(eager=True)
    )
    assert refresh_updated(spark, tied, state, PCFG).n_changed == 0
    merge_edges_batch(tied, 1, edges)

    def triples_of(df):
        return {
            tuple(r)
            for r in df.filter(F.col("subj").isin(ids))
            .select("subj", "pred", "obj", F.coalesce("context", F.lit(""))).collect()
        }

    via_refresh = triples_of(spark.read.parquet(f"{state}/triples"))
    assert triples_of(spark.read.parquet(edges)) == via_refresh
    tied_triples = projection_graph(fused_docs_projection(tied, PCFG), PCFG)[1]
    assert triples_of(tied_triples) != via_refresh, "the tied re-edit must change triples"


def test_refresh_and_epoch_release_what_they_persist(spark, tmp_path):
    """Each refresh and each stream epoch releases every RDD it persists
    (a localCheckpoint outlives ``unpersist`` and piled up per call)."""
    from knowledge_nexus_spark.streaming.ingest import merge_edges_batch

    state, edges = str(tmp_path / "state"), str(tmp_path / "edges")
    docs = generate_documents(spark, CFG)
    refresh_updated(spark, docs, state, PCFG)
    merge_edges_batch(docs, 0, edges)
    ts = "2036-01-01T00:00:00.000001Z"
    docs_v2 = _reedit(docs, 3, 0, ts)

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    assert refresh_updated(spark, docs_v2, state, PCFG).n_changed == 3
    merge_edges_batch(docs_v2.filter(F.col("last_edited_time") == ts), 1, edges)
    # ids, not the count: the context cleaner may drop older RDDs meanwhile
    assert set(jsc.getPersistentRDDs().keys()) <= before
