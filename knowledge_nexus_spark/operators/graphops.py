"""Relational graph operators: freshness dedup, orphan handling, node build.

Each is the set-wise equivalent of an imperative reference routine:
  - freshness_dedup   ← last-writer-wins dict update (notion_provider.py:315-319)
  - clean_orphans     ← GraphBuilder.clean_orphan_relations (graph_builder.py:78-85)
  - add_missing_nodes ← GraphBuilder.add_missing_pages (graph_builder.py:34-61)
  - page_nodes        ← GraphPage construction + title tagging
                        (notion_provider.py:96-100,322-330,401-406)

Scale notes: the node-id side of the semi/anti joins is a projection of a
single string column — at corpus scale Spark's AQE converts these to
broadcast or shuffled hash joins as sizes dictate; we do not force a
broadcast here because at 10^12 docs the node set is NOT small. The
endpoint-distinct in add_missing_nodes is the skew point (a hub entity
appears in a large fraction of triples) — distinct is implemented as a
two-phase partial aggregation which Spark does map-side automatically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def edit_time(col: Column) -> Column:
    """``last_edited_time`` parsed to a timestamp, so versions compare by
    instant across UTC offsets (a raw-string compare ranks
    ``10:00+0200`` after ``09:00Z``). Every freshness decision —
    dedup, refresh's change diff, the stream's admission — uses it."""
    return F.to_timestamp(col, "yyyy-MM-dd'T'HH:mm:ss.SSSSSSX")


def freshness_dedup(documents: DataFrame) -> DataFrame:
    """Keep the newest version per doc_id (strictly-newer-wins,
    notion_provider.py:315-319): one window over doc_id, a single shuffle
    of the wide rows."""
    # Final tie-break on a content hash: two versions with IDENTICAL
    # last_edited_time but different spans/title must pick a deterministic
    # winner across runs/partitionings (which one wins is implementation-
    # defined — the oracle's strictly-newer-wins keeps its first-encountered
    # row and the corpus generator never emits equal timestamps).
    #
    # The hash is evaluated ONLY for rows whose (doc_id, raw ts) actually
    # ties — a peers-frame count over the same doc_id exchange finds them.
    # Hashing the wide spans payload unconditionally measured ~13% of the
    # whole pipeline wall; ties are ~0 rows, so the guard removes the cost.
    # stage the parsed timestamp once: both window sorts order by it, and
    # an inline to_timestamp would be re-parsed per sort comparison
    # evaluation (two Window operators share the exchange but not the
    # sort expression) — results identical, the column is dropped after.
    staged = documents.withColumn("_pts", edit_time(F.col("last_edited_time")))
    order = [
        F.col("_pts").desc_nulls_last(),
        F.col("last_edited_time").desc_nulls_last(),
    ]
    w_peers = (
        Window.partitionBy("doc_id")
        .orderBy(*order)
        .rangeBetween(Window.currentRow, Window.currentRow)
    )
    tied = staged.withColumn("_nver", F.count(F.lit(1)).over(w_peers))
    tiebreak = (
        F.when(F.col("_nver") > 1, F.xxhash64(F.col("title"), F.col("spans")))
        .otherwise(F.lit(0).cast("long"))
    )
    w = Window.partitionBy("doc_id").orderBy(*order, tiebreak.desc())
    return (
        tied.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_nver", "_pts")
    )


def cap_group_size(
    df: DataFrame, key_col: str, order_col: str, cap: int
) -> DataFrame:
    """Deterministically keep at most ``cap`` rows per key (first by
    ``order_col``) WITHOUT sorting the whole input: a narrow count
    aggregation finds the keys over the cap, those keys' rows are
    split out and ranked, everything else passes through untouched. When
    no key exceeds the cap — the common case — the output equals the input
    and the only added work is the narrow count. Semantically identical to
    a global row_number ≤ cap filter.

    The hot-key frame is usually tiny, but on a dense corpus where MOST
    keys exceed the cap it is ~n_keys rows — so no broadcast hint is
    pinned here: AQE broadcasts it when its runtime size allows and falls
    back to a shuffle join when it doesn't (a pinned broadcast would OOM
    the driver in the dense case)."""
    hot = (
        df.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > cap)
        .select(key_col)
    )
    cold = df.join(hot, key_col, "left_anti")
    w = Window.partitionBy(key_col).orderBy(order_col)
    capped_hot = (
        df.join(hot, key_col, "left_semi")
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= cap)
        .drop("_rk")
    )
    return cold.unionByName(capped_hot)


def page_nodes(
    documents: DataFrame, add_archived: bool = False, add_removed: bool = False
) -> DataFrame:
    """Fused-projection rows (see pipeline.fused_docs_projection) → node
    rows with archived/in-trash gates, title tags and the rendered
    content."""
    keep = F.lit(True)
    if not add_archived:
        keep = keep & ~F.col("archived")
    if not add_removed:
        keep = keep & ~F.col("in_trash")
    title = (
        F.when(F.col("archived"), F.concat(F.lit("[ARCHIVED] "), F.col("title")))
        .when(F.col("in_trash"), F.concat(F.lit("[REMOVED] "), F.col("title")))
        .otherwise(F.col("title"))
    )
    return documents.filter(keep).select(
        F.col("doc_id").alias("id"),
        title.alias("title"),
        F.when(F.col("doc_kind") == "database", F.lit("Database"))
        .otherwise(F.lit("Page"))
        .alias("type"),
        "url",
        "content",
        F.lit("Notion").alias("source"),
        "last_edited_time",
    )


def content_docs(documents: DataFrame) -> DataFrame:
    """Documents whose content (spans) is processed: never archived/in-trash
    (notion_provider.py:408-412), regardless of the node-add flags."""
    return documents.filter(~F.col("archived") & ~F.col("in_trash"))


def clean_orphans(triples: DataFrame, nodes: DataFrame) -> DataFrame:
    """Keep triples whose BOTH endpoints exist in nodes (left-semi ×2).

    A hub entity (the reference's root page — every child emits CONTAINS
    to it, notion_provider.py:144-150) owns a large share of the obj keys,
    yet no explicit heavy-hitter split is planned here. Counter-measurement
    (4-core host, 4 alternated runs per arm): routing keys with ≥ 100,000
    triples through a broadcast branch made ``count()`` over 4M triples
    with a 1M-triple hub object against 200k nodes slower, median 3.8 s
    split vs 1.6 s plain at session defaults and 6.6 vs 4.0 s with
    automatic broadcasts off; on a 2,000-doc corpus, where no key reaches
    the threshold, the split's group-by and broadcast subtrees took
    build_graph from 10 to 21 Spark jobs."""
    ids = nodes.select(F.col("id"))
    return (
        triples.join(ids, triples["subj"] == ids["id"], "left_semi")
        .join(ids, triples["obj"] == ids["id"], "left_semi")
    )


def add_missing_nodes(triples: DataFrame, nodes: DataFrame) -> DataFrame:
    """Synthesize 'Unprocessed' nodes for endpoints absent from nodes.

    Source inheritance: a missing subj inherits the source of a prepared
    obj on any triple that references it (and vice versa); 'Unknown' when
    no prepared opposite endpoint exists. The reference does this
    per-encounter in relation order (graph_builder.py:34-48) — set-wise we
    take the min source for determinism."""
    ids = nodes.select("id")
    node_src = nodes.select("id", "source")

    subj_side = (
        triples.join(ids, triples["subj"] == ids["id"], "left_anti")
        .join(node_src, triples["obj"] == node_src["id"], "left")
        .select(F.col("subj").alias("mid"), F.col("source"))
    )
    obj_side = (
        triples.join(ids, triples["obj"] == ids["id"], "left_anti")
        .join(node_src, triples["subj"] == node_src["id"], "left")
        .select(F.col("obj").alias("mid"), F.col("source"))
    )
    missing = (
        subj_side.unionByName(obj_side)
        .groupBy("mid")
        .agg(F.min("source").alias("source"))
        .select(
            F.col("mid").alias("id"),
            F.lit("Unprocessed").alias("title"),
            F.lit("Page").alias("type"),
            F.lit("").alias("url"),
            F.lit(None).cast("string").alias("content"),
            F.coalesce(F.col("source"), F.lit("Unknown")).alias("source"),
            F.lit(None).cast("string").alias("last_edited_time"),
        )
    )
    return nodes.unionByName(missing)


def merge_sources(*document_dfs: DataFrame) -> DataFrame:
    """A1 multi-source union-merge (data_processing_pipeline.py:24-31):
    union all providers' documents (schema-tolerant), then last-writer-wins
    per doc_id — the set-wise form of the reference's dict.update loop
    where a later source overwrites an earlier one only via freshness."""
    from functools import reduce

    unioned = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), document_dfs
    )
    return freshness_dedup(unioned)


def group_mentions(mentions: DataFrame) -> DataFrame:
    """A3 entity grouping (entity_extractor.py:23-28): per label, the
    de-duplicated mention set; corpus-wide counts per (label, mention)."""
    return mentions.groupBy("label").agg(
        F.collect_set("mention").alias("mentions"),
        F.countDistinct("mention").alias("n_distinct"),
    )


def distinct_triples(triples: DataFrame) -> DataFrame:
    """Post-MERGE edge set: the Cypher MERGE key includes the context
    payload (neo4j_manager.py:230-238), with NULL context stored as ''."""
    return (
        triples.withColumn("context", F.coalesce(F.col("context"), F.lit("")))
        .dropDuplicates(["subj", "pred", "obj", "context"])
    )
