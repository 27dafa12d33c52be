"""Root-scoped corpus traversal (G1) with depth cap (P15).

The reference's primary ingest mode walks the graph from a root page
(notion_provider.py:124-164: page → blocks → child pages/databases/links,
recursing into unvisited targets, depth-capped at
config.page_max_depth=200; REFERENCES targets recurse only when
recursive_process_reference_pages, config.yaml:19).

Set-wise rebuild: extract ALL links once (the pipeline's fused
projection, one codegen pass — on Spark a single full scan beats
per-page point reads), restrict the link graph to corpus doc ids, then
run an **iterative frontier BFS as a DataFrame loop**: frontier ⋈ edges
→ new targets, anti-join visited, union, localCheckpoint per round. Hop
depth stands in for the reference's recursion depth (a guard, not a
semantic — the default 200 never binds on real corpora).

Scale: each round is one shuffle of the (narrow) frontier against the
link edges; rounds ≤ graph diameter. The visited set stays
(id, hop)-narrow regardless of corpus width.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from knowledge_nexus_spark.functions.ids import normalize_uuid
from knowledge_nexus_spark.operators.graphops import freshness_dedup
from knowledge_nexus_spark.pipeline import PipelineConfig, fused_docs_projection, projection_graph


def reachable_docs(
    documents: DataFrame,
    root_id: str,
    max_depth: int = 200,
    follow_references: bool = True,
) -> DataFrame:
    """documents reachable from root: (doc_id, hop), hop = BFS distance.

    Expansion only proceeds through docs whose content is processed (not
    archived / in trash — notion_provider.py:408-412); REFERENCES edges
    are followed only when ``follow_references``
    (notion_provider.py:170-171). Targets outside the corpus (bookmarks,
    dangling uuids) never enter the frontier."""
    docs = freshness_dedup(documents)
    doc_ids = docs.select(normalize_uuid(F.col("doc_id")).alias("id")).distinct()

    cfg = PipelineConfig(render_content=False)
    _, triples = projection_graph(fused_docs_projection(docs, cfg), cfg)
    preds = ["CONTAINS", "REFERENCES"] if follow_references else ["CONTAINS"]
    edges = (
        triples.filter(F.col("pred").isin(preds))
        .select("subj", "obj")
        .distinct()
        .join(doc_ids, triples["obj"] == doc_ids["id"], "left_semi")
    )
    edges = edges.localCheckpoint(eager=True)

    root = normalize_uuid(F.lit(root_id))
    visited = doc_ids.filter(F.col("id") == root).withColumn("hop", F.lit(0))
    frontier = visited.select("id")
    for depth in range(1, max_depth + 1):
        nxt = (
            edges.join(frontier, edges["subj"] == frontier["id"], "inner")
            .select(F.col("obj").alias("id"))
            .distinct()
            .join(visited.select("id"), "id", "left_anti")
            .withColumn("hop", F.lit(depth))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt)
        frontier = nxt.select("id")

    return visited


def root_scoped_documents(
    documents: DataFrame,
    root_id: str,
    max_depth: int = 200,
    follow_references: bool = True,
) -> DataFrame:
    """The documents table restricted to the root-reachable subgraph —
    feed this to build_graph/run_pipeline for root-scoped ingest parity."""
    reach = reachable_docs(documents, root_id, max_depth, follow_references)
    docs = documents.withColumn("_nid", normalize_uuid(F.col("doc_id")))
    return (
        docs.join(reach, docs["_nid"] == reach["id"], "left_semi").drop("_nid")
    )
