"""The KG-construction pipeline: documents → nodes + edges (+ chunks).

Stage graph (SURVEY.md §3.1 rebuild lifecycle):
  1. freshness dedup (A5)              — window last-writer-wins
  2. fused projection                  — spans parsed once: rendered content
                                         + per-doc triple array (JVM-native)
  3. nodes + bookmark nodes / triples  — projection_graph; chunk + embed
  4. entity linking (J10)              — MinHashLSH blocking + cosine re-rank
  5. canonicalization (G3)             — salted iterative connected components
  6. orphan policy (J1/J2) + materialize nodes/edges

``build_graph`` and ``run_pipeline`` run the same stage graph and differ
only in how they hold stage outputs: ``build_graph`` persists them,
``run_pipeline`` commits each as a StageCheckpointer snapshot so a killed
run resumes from the last committed one (the reference's cache
short-circuits, cache_util.py:98-120 / notion_provider.py:80-91).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from knowledge_nexus_spark.functions.extract import (
    TRIPLE_ARRAY_DDL,
    bookmark_nodes,
    doc_triples_expr,
)
from knowledge_nexus_spark.functions.ids import normalize_uuid
from knowledge_nexus_spark.functions.render import render_spans_native, spans_with_runs
from knowledge_nexus_spark.operators.graphops import (
    add_missing_nodes,
    clean_orphans,
    content_docs,
    distinct_triples,
    freshness_dedup,
    page_nodes,
)


@dataclass(frozen=True)
class PipelineConfig:
    add_archived: bool = False  # config.yaml:16 add_archived_page_nodes
    add_removed: bool = False  # config.yaml:17 add_removed_page_nodes
    create_unprocessed: bool = False  # config.yaml:18 create_unprocessed_graph_nodes
    render_content: bool = True
    embedding_dim: int = 64
    chunk_size: int = 200  # token budget (config.yaml:50 max_tokens, scaled down)
    chunk_overlap: int = 20  # config.yaml:51 overlap, scaled proportionally
    with_chunks: bool = True  # stage 3 (chunk + embed + HAS_CHUNK edges)
    with_linking: bool = False  # stage 4 (J10 mention→entity LINKS_TO edges)
    # media stage: caption-aligned media nodes + HAS_MEDIA edges from the
    # interleaved span sequence (multimodal.media_graph). Off by default —
    # text-only corpora produce zero media spans either way, but the stage
    # still costs a second scan of the wide spans column.
    with_media: bool = False
    canonicalize: bool = False  # stage 5 (G3 alias connected components)
    link_min_cosine: float = 0.6
    alias_min_cosine: float = 0.95  # entity-entity merge confidence


_HEADER_COLS = [
    "doc_id", "title", "doc_kind", "url", "archived", "in_trash",
    "last_edited_time",
]

# (SparkContext, render_content) -> the fused projection's three Columns
_PROJECTION_COLUMNS: dict = {}


def _projection_key(sc, render_content: bool) -> tuple:
    """Memo key of the fused projection's Columns. The SparkContext OBJECT
    is part of the key (identity-hashed), so a stopped and restarted
    session gets Columns built for its own context."""
    return (sc, render_content)


def _projection_columns(sc, render_content: bool) -> tuple:
    """The fused projection's Columns, built once per live SparkContext.
    Building them costs thousands of py4j round trips (the render fold
    alone measured 0.58-0.69 s on a 4-core host); they depend on nothing
    but ``render_content``, so every later call reuses them."""
    key = _projection_key(sc, render_content)
    cols = _PROJECTION_COLUMNS.get(key)
    if cols is None:
        for stale in [k for k in _PROJECTION_COLUMNS if k[0] is not sc]:
            del _PROJECTION_COLUMNS[stale]
        processed_pred = ~F.col("archived") & ~F.col("in_trash")
        content = (
            F.when(processed_pred, render_spans_native(F.col("spans")))
            if render_content
            else F.lit(None).cast("string")
        )
        cols = _PROJECTION_COLUMNS[key] = (
            spans_with_runs(F.col("spans")).alias("spans"),
            content.alias("content"),
            F.when(processed_pred, doc_triples_expr(F.col("spans")))
            .otherwise(F.array().cast(TRIPLE_ARRAY_DDL))
            .alias("_tris"),
        )
    return cols


def fused_docs_projection(docs: DataFrame, cfg: "PipelineConfig") -> DataFrame:
    """The SINGLE-PASS projection at the heart of the pipeline: from a
    (deduplicated) documents frame, compute the rendered content AND the
    per-document triple array together — the wide spans column is scanned
    once and then DROPPED.

    Two stacked Projects: the first rewrites spans with a typed ``runs``
    field (rich_runs JSON parsed ONCE per span — render fold, triple
    extraction, and bookmark hrefs all share that single parse; Catalyst
    keeps the Projects separate because the parse is non-cheap and
    multiply-referenced), the second folds content + triples from the
    parsed spans. Bookmark urls ride INSIDE the triple array (the ``bm``
    flag), so one extraction pass serves both the edges and the bookmark
    branch. Shared by build_graph, run_pipeline, the incremental refresh,
    the stream sink and root-scoped traversal — the library's only triple
    extraction."""
    parse, content, tris = _projection_columns(
        docs.sparkSession.sparkContext, cfg.render_content
    )
    return docs.select(*_HEADER_COLS, parse).select(*_HEADER_COLS, content, tris)


def projection_graph(combined: DataFrame, cfg: PipelineConfig) -> tuple[DataFrame, DataFrame]:
    """(nodes, triples_raw) from the fused projection: page nodes carrying
    the rendered content plus one Bookmark node per distinct ``bm``-flagged
    url, and the per-encounter triples (the explode of ``_tris``)."""
    exploded = combined.select(
        normalize_uuid(F.col("doc_id")).alias("subj"),
        F.explode("_tris").alias("t"),
    )
    triples_raw = exploded.select("subj", "t.pred", "t.obj", "t.context")
    burls = exploded.filter(F.col("t.bm")).select(F.col("t.obj").alias("id")).distinct()
    nodes = page_nodes(combined, cfg.add_archived, cfg.add_removed).unionByName(
        bookmark_nodes(burls)
    )
    return nodes, triples_raw


@dataclass
class GraphResult:
    nodes: DataFrame
    edges: DataFrame
    triples_raw: DataFrame  # pre-dedup per-encounter appends (persisted)
    documents: DataFrame  # the fused projection of the deduped input (persisted)
    deduped: DataFrame | None = None  # persisted only for the media branch

    def unpersist(self) -> None:
        # blocking: the async default leaves the old run's blocks occupying
        # storage memory while the next run populates its cache — the new
        # blocks then land in the DISK store and every subsequent read pays
        # full deserialization (profiled: identical 1.2 GB cached reads cost
        # 6-13x the CPU on a back-to-back second run in one JVM)
        for df in (self.triples_raw, self.documents, self.deduped):
            if df is not None:
                df.unpersist(blocking=True)


def build_graph(
    spark: SparkSession,
    documents: DataFrame,
    cfg: PipelineConfig | None = None,
) -> GraphResult:
    """documents(spans) → (nodes, edges).

    SINGLE-PASS plan (see fused_docs_projection): content + triple array
    computed together directly after the dedup window — the wide spans
    column is scanned once, shuffled once, and DROPPED; the persisted
    intermediate holds only (header cols, content, triple array).

    The raw triples are persisted too: add_missing_nodes reads them
    twice (once per endpoint side), and callers read ``triples_raw``
    after the edges. ``GraphResult.unpersist`` releases every frame
    persisted here."""
    cfg = cfg or PipelineConfig()

    deduped = freshness_dedup(documents)
    if cfg.with_media:
        # the media branch re-scans the wide spans column; persisting
        # the deduped frame keeps the dedup window (the plan's widest
        # shuffle) from running twice. MEMORY_AND_DISK — spans spill.
        deduped = deduped.persist(StorageLevel.MEMORY_AND_DISK)
    combined = fused_docs_projection(deduped, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    all_nodes, triples_raw = projection_graph(combined, cfg)
    triples_raw = triples_raw.persist(StorageLevel.MEMORY_AND_DISK)

    media_edges = None
    media_nodes = None
    if cfg.with_media:
        from knowledge_nexus_spark.multimodal import media_graph

        media_nodes, media_edges = media_graph(deduped)

    if cfg.create_unprocessed:
        all_nodes = add_missing_nodes(triples_raw, all_nodes)
        kept = triples_raw
    else:
        kept = clean_orphans(triples_raw, all_nodes)

    if media_nodes is not None:
        # unioned AFTER orphan cleaning: media refs are never triple
        # endpoints (extraction has no media arm), so shipping them into
        # the endpoint semi-joins would only widen the build side
        all_nodes = all_nodes.unionByName(media_nodes)

    edges = distinct_triples(kept)
    if media_edges is not None:
        # HAS_MEDIA pairs are distinct by construction (media_graph
        # aggregates per (doc, ref)) — no second distinct shuffle needed;
        # same NULL-context convention as distinct_triples ('' not NULL)
        edges = edges.unionByName(
            media_edges.withColumn("context", F.coalesce(F.col("context"), F.lit("")))
        )
    return GraphResult(
        nodes=all_nodes, edges=edges, triples_raw=triples_raw, documents=combined,
        deduped=deduped if cfg.with_media else None,
    )


def run_pipeline(
    spark: SparkSession,
    documents: DataFrame,
    workdir: str,
    cfg: PipelineConfig | None = None,
):
    """Full checkpointed run: every stage is a committed snapshot, a rerun
    resumes from the last committed one (SURVEY.md §4.4). Returns the
    checkpointer (whose ``metrics`` carry per-stage per-partition lineage)
    plus the final nodes/edges/chunks DataFrames.

    s2 (triples) and s3 (nodes) are the two halves of ``projection_graph``
    over ONE fused projection of the s1 snapshot, persisted across both
    saves: s2's write job fills the cache and s3 reads it, so the spans are
    parsed, rendered and extracted once. Counter-measurement (4-core host,
    2,000-doc corpus, one session, 6 runs per side in ABBA order): the s3
    save took a median 0.47 s (0.41-0.61) persisted vs 1.13 s (1.03-1.30)
    recomputed, while s2, which fills the cache, took 0.64 vs 0.68 s; so
    s2 + s3 fell from 1.81 to 1.11 s."""
    from knowledge_nexus_spark.operators.chunking import chunk_and_embed, has_chunk_triples
    from knowledge_nexus_spark.storage.checkpoint import StageCheckpointer

    cfg = cfg or PipelineConfig()
    ck = StageCheckpointer(spark, workdir)

    docs = ck.load_or_compute("s1_documents", lambda: freshness_dedup(documents))

    combined = fused_docs_projection(docs, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    graph_nodes, graph_triples = projection_graph(combined, cfg)
    triples_raw = ck.load_or_compute("s2_triples_raw", lambda: graph_triples)
    nodes = ck.load_or_compute("s3_nodes", lambda: graph_nodes)
    combined.unpersist(blocking=True)

    chunks = None
    extra_edges = None
    if cfg.with_chunks:
        chunks = ck.load_or_compute(
            "s4_chunks",
            lambda: chunk_and_embed(
                nodes, cfg.chunk_size, cfg.chunk_overlap, cfg.embedding_dim
            ),
        )
        extra_edges = has_chunk_triples(chunks)

    if cfg.with_linking:
        from knowledge_nexus_spark.operators.linking import detect_mentions, link_entities

        def _links():
            mentions = detect_mentions(content_docs(docs))
            entities = nodes.select("id", F.col("title").alias("name"))
            return link_entities(
                mentions, entities, min_cosine=cfg.link_min_cosine,
                embedding_dim=cfg.embedding_dim,
            )

        links = ck.load_or_compute("s5_links", _links)
        link_edges = links.select(
            F.col("doc_id").alias("subj"),
            F.lit("LINKS_TO").alias("pred"),
            F.col("entity_id").alias("obj"),
            F.col("mention").alias("context"),
        )
        extra_edges = link_edges if extra_edges is None else extra_edges.unionByName(link_edges)

    media_nodes = None
    if cfg.with_media:
        from knowledge_nexus_spark.multimodal import media_graph

        def _media():
            _, m_edges = media_graph(docs)
            return m_edges.withColumn(
                "context", F.coalesce(F.col("context"), F.lit(""))
            )

        media_edges = ck.load_or_compute("s7_media", _media)
        # nodes for the same media refs — without them every HAS_MEDIA
        # edge would dangle (build_graph unions them too, pipeline
        # twin-parity pinned by test_run_pipeline_media_nodes)
        media_nodes = ck.load_or_compute(
            "s7_media_nodes", lambda: media_graph(docs)[0]
        )
        extra_edges = (
            media_edges
            if extra_edges is None
            else extra_edges.unionByName(media_edges)
        )

    def _edges():
        base = triples_raw
        if cfg.canonicalize and cfg.with_linking:
            from knowledge_nexus_spark.operators.components import canonical_map, rewrite_triples

            links = ck.load("s5_links")
            alias_edges = (
                links.filter(F.col("cosine") >= cfg.alias_min_cosine)
                .select(F.col("mention").alias("src"), F.col("entity_id").alias("dst"))
            )
            mapping = canonical_map(alias_edges, nodes.select("id"))
            base = rewrite_triples(base, mapping)
        if cfg.create_unprocessed:
            kept = base
        else:
            kept = clean_orphans(base, nodes)
        if extra_edges is not None:
            kept = kept.unionByName(extra_edges)
        return distinct_triples(kept)

    edges = ck.load_or_compute("s6_edges", _edges)

    final_nodes = nodes
    if cfg.create_unprocessed:
        final_nodes = ck.load_or_compute(
            "s7_nodes_final", lambda: add_missing_nodes(ck.load("s2_triples_raw"), nodes)
        )
    if media_nodes is not None:
        # after add_missing_nodes: media refs are never triple endpoints
        # (extraction has no media arm), same ordering as build_graph
        final_nodes = final_nodes.unionByName(media_nodes)

    ck.write_run_metrics()
    return ck, final_nodes, edges, chunks
