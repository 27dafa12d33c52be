"""End-to-end parity: Spark pipeline vs the pure-Python reference-semantics
oracle on the same deterministic corpus (BASELINE.json: P/R ≥ 0.95; exact
at test scale), plus the span-sequence equality invariant."""

from pyspark.sql import functions as F

from knowledge_nexus_spark.datagen import CorpusConfig, generate_documents, generate_documents_local
from knowledge_nexus_spark.oracle import OracleConfig, run_oracle
from knowledge_nexus_spark.pipeline import PipelineConfig, build_graph
from knowledge_nexus_spark.schema import DOCUMENTS_SCHEMA

CFG = CorpusConfig(n_docs=120, seed=42)


def _spark_docs(spark):
    return generate_documents(spark, CFG)


def _triple_set(edges_df):
    return {(r.subj, r.pred, r.obj) for r in edges_df.select("subj", "pred", "obj").collect()}


def test_spark_and_local_corpus_identical(spark):
    """Distributed generation must equal driver-side generation row-for-row."""
    local = generate_documents_local(CFG)
    dist = _spark_docs(spark).collect()
    assert len(dist) == len(local)
    loc_by_key = {(r["doc_id"], r["last_edited_time"]): r for r in local}
    for row in dist:
        loc = loc_by_key[(row.doc_id, row.last_edited_time)]
        assert row.title == loc["title"]
        got_spans = [(s.kind, s.text, s.media_ref, s.offset) for s in row.spans]
        want_spans = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in loc["spans"]]
        assert got_spans == want_spans


def test_triples_match_oracle_default_config(spark):
    docs = _spark_docs(spark)
    result = build_graph(spark, docs, PipelineConfig(render_content=False))
    got = _triple_set(result.edges)
    want = run_oracle(generate_documents_local(CFG), OracleConfig()).triple_set
    assert got == want, f"missing={list(want - got)[:5]} extra={list(got - want)[:5]}"


def test_triples_match_oracle_unprocessed_config(spark):
    docs = _spark_docs(spark)
    result = build_graph(
        spark, docs, PipelineConfig(create_unprocessed=True, render_content=False)
    )
    got = _triple_set(result.edges)
    oracle = run_oracle(generate_documents_local(CFG), OracleConfig(create_unprocessed=True))
    assert got == oracle.triple_set


def test_nodes_match_oracle(spark):
    docs = _spark_docs(spark)
    result = build_graph(spark, docs, PipelineConfig(render_content=False))
    got = {(r.id, r.title, r.type) for r in result.nodes.select("id", "title", "type").collect()}
    oracle = run_oracle(generate_documents_local(CFG), OracleConfig())
    want = {(p["id"], p["title"], p["type"]) for p in oracle.pages.values()}
    assert got == want


def test_span_sequence_invariant(spark):
    """Per-row invariant from BASELINE.json: the span sequence
    (kind, text, media_ref, order) survives the pipeline unchanged —
    the engine never reorders or mutates a document's spans."""
    docs = _spark_docs(spark)
    out = build_graph(spark, docs, PipelineConfig(render_content=False))
    # the pipeline's document-side view: freshness-dedup only
    from knowledge_nexus_spark.operators.graphops import freshness_dedup

    surviving = freshness_dedup(docs)
    inp: dict[str, list] = {}
    for r in docs.collect():
        inp.setdefault(r.doc_id, []).append(
            [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
        )
    for r in surviving.collect():
        got = [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
        # must exactly match the input span sequence of some version of
        # this doc (freshness dedup picks among versions, never mutates)
        assert r.doc_id in inp and got in inp[r.doc_id]

    # duplicate-handling: surviving row equals the newest local version
    local = generate_documents_local(CFG)
    newest = {}
    for row in local:
        cur = newest.get(row["doc_id"])
        if cur is None or row["last_edited_time"] > cur["last_edited_time"]:
            newest[row["doc_id"]] = row
    surv = {r.doc_id: r for r in surviving.collect()}
    assert set(surv) == set(newest)
    for did, row in newest.items():
        got = [(s.kind, s.text, s.media_ref, s.offset) for s in surv[did].spans]
        want = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row["spans"]]
        assert got == want, did


def test_non_http_refs_bookmark_parity(spark):
    """The reference bookmarks ANY non-uuid href/ref (mailto:, ftp:,
    relative paths), not only http(s) — Spark and oracle must agree, and
    the triples must survive the orphan clean in both."""
    def span(kind, text=None, media_ref=None, offset=0):
        return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}

    rows = [
        {
            "doc_id": "d1", "title": "t1", "doc_kind": "page", "url": "",
            "archived": False, "in_trash": False,
            "last_edited_time": "2024-01-01T00:00:00.000001Z",
            "spans": [
                span("paragraph", "mail [me](mailto:x@example.org) now"),
                span("bookmark", None, "ftp://files.example.org/a.txt", 1),
                span("prop_url", "Home", "../relative/path", 2),
                span("link_to_page", None, "not-a-uuid-target", 3),
            ],
        },
    ]
    docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    result = build_graph(spark, docs, PipelineConfig(render_content=False))
    got = _triple_set(result.edges)
    oracle = run_oracle(rows, OracleConfig())
    assert got == oracle.triple_set
    # non-http bookmark-able refs became nodes in both engines …
    got_nodes = {(r.id, r.type) for r in result.nodes.select("id", "type").collect()}
    want_nodes = {(p["id"], p["type"]) for p in oracle.pages.values()}
    assert got_nodes == want_nodes
    assert ("mailto:x@example.org", "Bookmark") in got_nodes
    assert ("ftp://files.example.org/a.txt", "Bookmark") in got_nodes
    assert ("../relative/path", "Bookmark") in got_nodes
    # … but a link_to_page ref is NOT a bookmark (kind decides), so its
    # triple is orphan-cleaned in both
    assert not any(o == "not-a-uuid-target" for (_s, _p, o) in got)


def test_native_extraction_equals_pandas_extraction(spark):
    """The fused projection's per-encounter triples and the pure-Python
    oracle are two implementations of the same extraction rules — their
    distinct (subj, pred, obj, context) sets must be identical, context
    strings included (the oracle's unprocessed config keeps every
    relation, so nothing is orphan-cleaned on either side)."""
    from knowledge_nexus_spark.operators.graphops import distinct_triples, freshness_dedup
    from knowledge_nexus_spark.pipeline import fused_docs_projection, projection_graph

    cfg = PipelineConfig(render_content=False)
    combined = fused_docs_projection(freshness_dedup(_spark_docs(spark)), cfg)
    got = set(map(tuple, distinct_triples(projection_graph(combined, cfg)[1]).collect()))
    want = run_oracle(
        generate_documents_local(CFG), OracleConfig(create_unprocessed=True)
    ).edge_set
    assert got == want, f"missing={list(want - got)[:5]} extra={list(got - want)[:5]}"


def test_archived_docs_contribute_no_triples(spark):
    local = generate_documents_local(CFG)
    archived_ids = {r["doc_id"] for r in local if r["archived"] or r["in_trash"]}
    assert archived_ids, "corpus should contain archived docs"
    docs = _spark_docs(spark)
    result = build_graph(spark, docs, PipelineConfig(render_content=False))
    subj = {r.subj for r in result.edges.select("subj").distinct().collect()}
    assert not (subj & archived_ids)
