"""Multimodal plumbing + incremental streaming ingest."""

import os

import pytest
from pyspark.sql import functions as F

from knowledge_nexus_spark.datagen import CorpusConfig, generate_documents
from knowledge_nexus_spark.functions.ids import normalize_uuid
from knowledge_nexus_spark.multimodal import decode_features, frame_sample, media_assets
from knowledge_nexus_spark.pipeline import PipelineConfig, fused_docs_projection, projection_graph
from knowledge_nexus_spark.streaming.ingest import incremental_ingest

CFG = CorpusConfig(n_docs=80, seed=21)


def _fused_triples(docs):
    """The per-encounter triples of the pipeline's fused projection."""
    cfg = PipelineConfig(render_content=False)
    return projection_graph(fused_docs_projection(docs, cfg), cfg)[1]


def _extracted(batch):
    return {
        (r.subj, r.pred, r.obj, r.context)
        for r in _fused_triples(batch)
        .withColumn("context", F.coalesce(F.col("context"), F.lit("")))
        .collect()
    }


def _snapshot(spark, edges_path, subj=None):
    edges = spark.read.parquet(edges_path)
    if subj is not None:
        edges = edges.filter(F.col("subj") == subj)
    return {tuple(r) for r in edges.select("subj", "pred", "obj", "context").collect()}


def _linked_doc(docs):
    """(subj, the single stored version) of a live doc that emits triples."""
    subj = _fused_triples(docs).select("subj").first().subj
    one = (
        docs.filter(normalize_uuid(F.col("doc_id")) == subj)
        .localCheckpoint(eager=True)
    )
    assert one.count() == 1
    return subj, one


def test_media_pipeline(spark):
    docs = generate_documents(spark, CFG)
    assets = media_assets(docs)
    n = assets.count()
    assert n > 0
    feats = decode_features(assets)
    rows = feats.collect()
    assert len(rows) == n
    for r in rows[:10]:
        assert r.byte_len > 0 and 64 <= r.width < 256 and len(r.features) == 8
    # determinism: same ref → same features
    by_ref = {}
    for r in rows:
        key = (r.kind, r.media_ref)
        if key in by_ref:
            assert by_ref[key] == (r.width, r.height, r.n_frames, r.features)
        by_ref[key] = (r.width, r.height, r.n_frames, r.features)
    fs = frame_sample(feats, every_n=10)
    vids = feats.filter("kind = 'video'").count()
    if vids:
        assert fs.count() >= vids


def test_real_codec_decode_end_to_end(spark):
    """real_payloads → valid BMP/WAV/PDF containers; real_codecs → actual
    header parsing (stdlib struct/wave; PIL when importable). Parsed dims
    must equal what the synthesizer embedded — a true decode round-trip
    through the distributed Arrow path."""
    import hashlib

    docs = generate_documents(spark, CFG)
    assets = media_assets(docs, real_payloads=True)
    feats = decode_features(assets, real_codecs=True)
    rows = feats.collect()
    assert len(rows) == assets.count() > 0
    kinds = {r.kind for r in rows}
    assert "image" in kinds and ("video" in kinds or "audio" in kinds)
    for r in rows:
        assert abs(sum(r.features) - 1.0) < 1e-3  # normalized byte histogram
        if r.kind == "image":
            d = hashlib.sha256(r.media_ref.encode()).digest()
            assert (r.width, r.height) == (64 + d[0] % 64, 64 + d[1] % 64)
        elif r.kind in ("video", "audio"):
            d = hashlib.sha256(r.media_ref.encode()).digest()
            n_samples = 16000 // 2 + d[2] * 256
            assert r.n_frames == max(1, n_samples // 1600)
        else:
            assert r.n_frames == 1


def test_media_features_fused_equals_unfused(spark):
    """r6 optimization pin: the fused synth+decode stage must produce
    EXACTLY the rows of decode_features(media_assets(real_payloads=True),
    real_codecs=True) — the payload just never crosses the JVM↔Python
    boundary in the fused plan."""
    from knowledge_nexus_spark.multimodal import media_features_fused

    docs = generate_documents(spark, CFG)
    unfused = decode_features(
        media_assets(docs, real_payloads=True), real_codecs=True
    )
    fused = media_features_fused(docs, real_codecs=True)
    key = lambda r: (r.doc_id, r.kind, r.media_ref)  # noqa: E731
    a = sorted(unfused.collect(), key=key)
    b = sorted(fused.collect(), key=key)
    assert len(a) == len(b) > 0
    for ra, rb in zip(a, b):
        assert ra == rb


def test_real_codecs_reject_malformed_payloads(spark):
    """Opaque (non-container) payloads must fail loudly under real_codecs —
    no silent garbage features."""
    docs = generate_documents(spark, CFG)
    with pytest.raises(Exception, match="BMP|WAV|PDF|not a|file does not start"):
        decode_features(media_assets(docs), real_codecs=True).collect()


def test_streaming_merge_is_partition_scoped(spark, tmp_path):
    """A micro-batch must rewrite ONLY the snapshot partitions its own
    subjects hash into — work per batch proportional to the batch, not to
    the accumulated snapshot."""
    import glob

    from knowledge_nexus_spark.storage.merge import N_BUCKETS
    from knowledge_nexus_spark.streaming.ingest import merge_edges_batch

    docs = generate_documents(spark, CFG)
    edges_path = str(tmp_path / "edges")
    merge_edges_batch(docs, 0, edges_path)  # seed a multi-bucket snapshot

    def file_state():
        return {
            p: os.path.getmtime(p)
            for p in glob.glob(edges_path + "/bucket=*/*")
            if p.endswith(".parquet")
        }

    def bucket_of(path):
        return int(path.split("bucket=")[1].split("/")[0])

    one = (
        docs.filter(~F.col("archived") & ~F.col("in_trash"))
        .orderBy("doc_id").limit(1).localCheckpoint(eager=True)
    )
    tris = _fused_triples(one)
    touched = {
        r.b
        for r in tris.select(
            F.pmod(F.xxhash64("subj"), F.lit(N_BUCKETS)).cast("int").alias("b")
        ).distinct().collect()
    }
    assert touched, "chosen doc must emit triples"

    before = file_state()
    merge_edges_batch(one, 1, edges_path)
    after = file_state()

    changed = {
        bucket_of(p)
        for p in set(before) | set(after)
        if before.get(p) != after.get(p)
    }
    all_buckets = {bucket_of(p) for p in after}
    assert changed == touched, f"rewrote {changed}, batch touches {touched}"
    assert len(all_buckets) > len(touched), "snapshot must span more buckets"


def test_streaming_merge_is_last_writer_wins(spark, tmp_path):
    """A re-edited document's REMOVED links must leave the snapshot (keyed
    delete+insert on subj — operators/refresh.py parity), an archived v2
    must delete the document's edges entirely, and two versions inside one
    micro-batch must collapse to the newest before extraction. An
    append-only MERGE-distinct passes the partition-scoped test but fails
    all three."""
    from knowledge_nexus_spark.streaming.ingest import merge_edges_batch

    docs = generate_documents(spark, CFG)
    edges_path = str(tmp_path / "edges")

    some_subj, one = _linked_doc(docs)

    merge_edges_batch(docs, 0, edges_path)
    assert _snapshot(spark, edges_path, some_subj) == _extracted(one)

    # v2 drops every link span: the removed triples must leave the snapshot
    v2 = (
        one.withColumn("last_edited_time", F.lit("2030-06-01T00:00:00.000001Z"))
        .withColumn("spans", F.filter("spans", lambda s: s["kind"] != "link_to_page"))
        .localCheckpoint(eager=True)
    )
    merge_edges_batch(v2, 1, edges_path)
    want_v2 = _extracted(v2)
    assert _snapshot(spark, edges_path, some_subj) == want_v2
    assert _extracted(one) != want_v2, "v2 must actually remove triples"

    # v1 + v3 in ONE batch: freshness dedup keeps only the newest version
    v3 = (
        one.withColumn("last_edited_time", F.lit("2031-01-01T00:00:00.000001Z"))
        .withColumn("spans", F.slice("spans", 1, 2))
        .localCheckpoint(eager=True)
    )
    merge_edges_batch(one.unionByName(v3), 2, edges_path)
    assert _snapshot(spark, edges_path, some_subj) == _extracted(v3)

    # archived v4: the document's edges disappear entirely
    v4 = v3.withColumn(
        "last_edited_time", F.lit("2032-01-01T00:00:00.000001Z")
    ).withColumn("archived", F.lit(True))
    merge_edges_batch(v4, 3, edges_path)
    assert _snapshot(spark, edges_path, some_subj) == set()
    # …and the rest of the snapshot is untouched
    assert spark.read.parquet(edges_path).count() > 0


def test_incremental_ingest_matches_batch(spark, tmp_path):
    """Two document drops streamed in → edges snapshot equals one batch
    extraction over the union (idempotent MERGE semantics): the oracle's
    distinct (subj, pred, obj, context) set before orphan cleaning."""
    from knowledge_nexus_spark.datagen import generate_documents_local
    from knowledge_nexus_spark.oracle import OracleConfig, run_oracle

    docs = generate_documents(spark, CFG)
    half1 = docs.filter(F.crc32(F.col("doc_id")) % 2 == 0)
    half2 = docs.filter(F.crc32(F.col("doc_id")) % 2 == 1)
    in_dir = str(tmp_path / "in")
    half1.write.mode("overwrite").parquet(in_dir)

    edges_path = str(tmp_path / "edges")
    ck = str(tmp_path / "ck")
    incremental_ingest(spark, in_dir, edges_path, ck)
    n1 = spark.read.parquet(edges_path).count()
    assert n1 > 0

    half2.write.mode("append").parquet(in_dir)
    incremental_ingest(spark, in_dir, edges_path, ck)
    got = {
        tuple(r)
        for r in spark.read.parquet(edges_path)
        .select("subj", "pred", "obj", "context")
        .collect()
    }
    want = run_oracle(
        generate_documents_local(CFG), OracleConfig(create_unprocessed=True)
    ).edge_set
    assert got == want
    # re-run with nothing new: idempotent
    incremental_ingest(spark, in_dir, edges_path, ck)
    assert spark.read.parquet(edges_path).count() == len(want)


def test_caption_pairs_nearest_preceding_text(spark):
    """caption_pairs pairs each media span with the NEAREST PRECEDING
    paragraph; a media span with no preceding text keeps a NULL caption
    (the one case the flat-corpus oracle can't exercise, since
    interleave_media_spans always leads with a paragraph)."""
    from knowledge_nexus_spark.multimodal import caption_pairs

    rows = [
        (
            "d1",
            [
                {"kind": "image", "text": None, "media_ref": "m0", "offset": 0},
                {"kind": "paragraph", "text": "alpha", "media_ref": None, "offset": 1},
                {"kind": "image", "text": None, "media_ref": "m1", "offset": 2},
                {"kind": "paragraph", "text": "beta", "media_ref": None, "offset": 3},
                {"kind": "audio", "text": None, "media_ref": "m2", "offset": 4},
                {"kind": "video", "text": None, "media_ref": "m3", "offset": 5},
            ],
        ),
        ("d2", [{"kind": "paragraph", "text": "only text", "media_ref": None, "offset": 0}]),
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    got = {
        r.media_ref: (r.caption, r.caption_distance)
        for r in caption_pairs(docs).collect()
    }
    assert got == {
        "m0": (None, None),  # leading media: no preceding text anywhere
        "m1": ("alpha", 1),
        "m2": ("beta", 1),
        "m3": ("beta", 2),  # skips the intervening audio span
    }


def test_interleave_media_spans_matches_input_hint_schema(spark):
    """interleave_media_spans emits exactly the BASELINE input_hint shape:
    (doc_id:string, spans:array<struct<kind,text,media_ref,offset:int>>),
    offsets equal to array position."""
    from knowledge_nexus_spark.multimodal import interleave_media_spans

    flat = spark.createDataFrame(
        [(6, "x" * 200), (7, "y" * 50)], "doc_id long, text string"
    )
    out = interleave_media_spans(flat)
    assert out.schema.simpleString() == (
        "struct<doc_id:string,spans:array<struct<"
        "kind:string,text:string,media_ref:string,offset:int>>>"
    )
    by_id = {r.doc_id: r.spans for r in out.collect()}
    # id 6: %2==0 and %3==0 → para,img/a,para,img/b,img/c (5 spans)
    kinds6 = [s.kind for s in by_id["6"]]
    assert kinds6 == ["paragraph", "image", "paragraph", "image", "image"]
    # id 7: odd, not %3 → para,img/a,para,para (4 spans)
    kinds7 = [s.kind for s in by_id["7"]]
    assert kinds7 == ["paragraph", "image", "paragraph", "paragraph"]
    for spans in by_id.values():
        assert [s.offset for s in spans] == list(range(len(spans)))


def test_kg_media_entities_links_media_to_caption_mentions(spark):
    """kg_media_entities: a media span acquires MENTIONS edges only for
    gazetteer terms inside ITS caption (the nearest preceding paragraph),
    never from elsewhere in the document."""
    from knowledge_nexus_spark.multimodal import caption_pairs
    from knowledge_nexus_spark.plans.driver_queries import GAZETTEER

    assert "spark" in GAZETTEER and "join" in GAZETTEER
    rows = [
        (
            "d1",
            [
                {"kind": "paragraph", "text": "spark join here", "media_ref": None, "offset": 0},
                {"kind": "image", "text": None, "media_ref": "m1", "offset": 1},
                {"kind": "paragraph", "text": "merge elsewhere", "media_ref": None, "offset": 2},
                {"kind": "image", "text": None, "media_ref": "m2", "offset": 3},
            ],
        )
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    caps = caption_pairs(docs)
    from pyspark.sql import functions as FF

    toks = caps.select(
        "media_ref",
        FF.explode(FF.split(FF.lower(FF.trim("caption")), r"\s+")).alias("tok"),
    ).filter(FF.col("tok").isin(GAZETTEER))
    got = {(r.media_ref, r.tok) for r in toks.collect()}
    assert got == {("m1", "spark"), ("m1", "join"), ("m2", "merge")}


def test_build_graph_with_media_stage(spark):
    """with_media=True: media nodes (typed, deterministic titles) and
    HAS_MEDIA edges (caption context) join the graph; the non-media edge
    set is bit-identical to a with_media=False run; doubling the corpus
    does not change the distinct edge set."""
    from pyspark.sql import functions as FF

    from knowledge_nexus_spark.pipeline import PipelineConfig, build_graph

    docs = generate_documents(spark, CFG)
    base = build_graph(spark, docs, PipelineConfig(render_content=False))
    res = build_graph(
        spark, docs, PipelineConfig(render_content=False, with_media=True)
    )

    media_edges = res.edges.filter("pred = 'HAS_MEDIA'")
    n_media = media_edges.count()
    assert n_media > 0
    # one edge per distinct (doc, media_ref) pair in the corpus
    expected = (
        docs.select("doc_id", FF.explode("spans").alias("s"))
        .filter(FF.col("s.kind").isin("image", "video", "audio", "file", "pdf"))
        .select("doc_id", "s.media_ref")
        .distinct()
        .count()
    )
    assert n_media == expected

    # media nodes exist, typed from the span kind, with stable ids
    media_nodes = res.nodes.filter("source = 'Media'")
    assert media_nodes.count() == media_edges.select("obj").distinct().count()
    t = {r.type for r in media_nodes.select("type").distinct().collect()}
    assert t <= {"Image", "Video", "Audio", "File", "Pdf"}

    # non-media edges unchanged vs the default pipeline
    nm = res.edges.filter("pred <> 'HAS_MEDIA'").select("subj", "pred", "obj")
    assert nm.exceptAll(base.edges.select("subj", "pred", "obj")).count() == 0
    assert base.edges.select("subj", "pred", "obj").exceptAll(nm).count() == 0

    # idempotent under a doubled corpus (distinct edge semantics)
    doubled = build_graph(
        spark,
        docs.unionByName(docs),
        PipelineConfig(render_content=False, with_media=True),
    )
    assert doubled.edges.count() == res.edges.count()
    base.unpersist()
    res.unpersist()
    doubled.unpersist()


def test_run_pipeline_media_stage_checkpoints_and_resumes(spark, tmp_path):
    """s7_media is a committed snapshot: a rerun resumes it instead of
    recomputing, and the media edges survive into s6_edges."""
    import os

    from knowledge_nexus_spark.pipeline import PipelineConfig, run_pipeline

    docs = generate_documents(spark, CFG)
    wd = str(tmp_path)
    cfg = PipelineConfig(with_chunks=False, with_media=True, render_content=False)
    _, _, edges, _ = run_pipeline(spark, docs, wd, cfg)
    n_media = edges.filter("pred = 'HAS_MEDIA'").count()
    assert n_media > 0
    meta = os.path.join(wd, "s7_media", "_STAGE_META.json")
    assert os.path.exists(meta)
    before = os.path.getmtime(meta)
    _, _, edges2, _ = run_pipeline(spark, docs, wd, cfg)
    assert os.path.getmtime(meta) == before  # resumed, not recomputed
    assert edges2.filter("pred = 'HAS_MEDIA'").count() == n_media


def test_caption_pairs_native_equals_window_variant(spark):
    """caption_pairs_native (zero-shuffle expression) and caption_pairs
    (doc-keyed window) produce identical rows — on the generated span
    corpus AND on the leading-media edge case (NULL caption)."""
    from knowledge_nexus_spark.multimodal import caption_pairs, caption_pairs_native

    docs = generate_documents(spark, CFG)
    a, b = caption_pairs(docs, keep_kind=True), caption_pairs_native(docs, keep_kind=True)
    assert a.count() > 0
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    edge = spark.createDataFrame(
        [
            (
                "d1",
                [
                    {"kind": "image", "text": None, "media_ref": "m0", "offset": 0},
                    {"kind": "paragraph", "text": "alpha", "media_ref": None, "offset": 1},
                    {"kind": "video", "text": None, "media_ref": "m1", "offset": 2},
                ],
            )
        ],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    got = {
        r.media_ref: (r.caption, r.caption_distance)
        for r in caption_pairs_native(edge).collect()
    }
    assert got == {"m0": (None, None), "m1": ("alpha", 1)}


def test_span_integrity_digest_is_order_and_field_sensitive(spark):
    """kg_span_integrity's canonical digest flips on ANY span-sequence
    violation — reorder, dropped span, or a mutated field — the per-row
    invariant from BASELINE.json's input_hint."""
    from pyspark.sql import functions as FF

    ddl = "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    base = [
        {"kind": "paragraph", "text": "alpha", "media_ref": None, "offset": 0},
        {"kind": "image", "text": None, "media_ref": "m1", "offset": 1},
    ]
    variants = {
        "base": base,
        "reordered": list(reversed(base)),
        "dropped": base[:1],
        "mutated_text": [{**base[0], "text": "beta"}, base[1]],
        "mutated_ref": [base[0], {**base[1], "media_ref": "m2"}],
        "mutated_kind": [{**base[0], "kind": "heading"}, base[1]],
    }
    docs = spark.createDataFrame([(k, v) for k, v in variants.items()], ddl)
    nul = FF.lit("\\N")
    ser = FF.array_join(
        FF.transform(
            FF.col("spans"),
            lambda s: FF.concat_ws(
                "|", s["kind"], FF.coalesce(s["text"], nul), FF.coalesce(s["media_ref"], nul)
            ),
        ),
        "\x1e",
    )
    digests = {r.doc_id: r.d for r in docs.select("doc_id", FF.md5(ser).alias("d")).collect()}
    assert len(set(digests.values())) == len(variants)  # all six distinct
    # offset intentionally excluded: order is carried by array position


def test_run_pipeline_media_nodes_no_dangling_endpoints(spark, tmp_path):
    """run_pipeline(with_media=True) must union media NODES like its
    build_graph twin — without them every HAS_MEDIA edge dangles (its obj
    has no node row) and a nodes⋈edges consumer silently drops the media
    half (code-review finding, round 4)."""
    from knowledge_nexus_spark.pipeline import PipelineConfig, build_graph, run_pipeline

    docs = generate_documents(spark, CFG)
    cfg = PipelineConfig(with_chunks=False, with_media=True, render_content=False)
    _, nodes, edges, _ = run_pipeline(spark, docs, str(tmp_path), cfg)

    media_objs = {
        r.obj for r in edges.filter("pred = 'HAS_MEDIA'").select("obj").collect()
    }
    assert media_objs, "fixture must produce media edges"
    node_ids = {r.id for r in nodes.select("id").collect()}
    assert media_objs <= node_ids  # every media endpoint resolves

    # twin parity: identical media node set as build_graph
    twin = build_graph(spark, docs, cfg)
    want = {
        (r.id, r.type) for r in twin.nodes.filter("source = 'Media'").collect()
    }
    got = {(r.id, r.type) for r in nodes.filter("source = 'Media'").collect()}
    assert got == want
    twin.unpersist()


def test_streaming_merge_rejects_out_of_order_older_version(spark, tmp_path):
    """An out-of-order batch carrying an OLDER version of a document must
    NOT regress the snapshot (per-subject watermark sidecar — refresh.py's
    strictly-newer CDC guard carried across micro-batches; code-review
    finding, round 4). A same-version replay (retry) must be a byte-level
    no-op."""
    from knowledge_nexus_spark.streaming.ingest import merge_edges_batch

    docs = generate_documents(spark, CFG)
    edges_path = str(tmp_path / "edges")

    some_subj, v1 = _linked_doc(docs)
    merge_edges_batch(docs, 0, edges_path)

    # v2 rewrites the doc (newer ts, fewer spans) — applied
    v2 = (
        v1.withColumn("last_edited_time", F.lit("2030-06-01T00:00:00.000001Z"))
        .withColumn("spans", F.filter("spans", lambda s: s["kind"] != "link_to_page"))
        .localCheckpoint(eager=True)
    )
    merge_edges_batch(v2, 1, edges_path)
    want_v2 = _extracted(v2)
    assert _snapshot(spark, edges_path, some_subj) == want_v2
    assert _extracted(v1) != want_v2

    # late re-delivery of the ORIGINAL v1 (older ts) — must be rejected
    merge_edges_batch(v1, 2, edges_path)
    assert _snapshot(spark, edges_path, some_subj) == want_v2, "older version regressed"

    # retry of v2 (equal ts) — idempotent, snapshot unchanged
    before = _snapshot(spark, edges_path)
    merge_edges_batch(v2, 3, edges_path)
    assert _snapshot(spark, edges_path) == before


def test_streaming_admission_compares_instants_across_utc_offsets(spark, tmp_path):
    """Admission orders versions by parsed instant, like freshness_dedup
    and refresh: a late re-edit stamped 10:00+0200 (08:00Z) is OLDER than
    the stored 09:00Z version and must be rejected, although its raw
    string sorts after it; a later instant in the same offset form is
    applied."""
    from knowledge_nexus_spark.streaming.ingest import merge_edges_batch

    docs = generate_documents(spark, CFG)
    edges_path = str(tmp_path / "edges")
    subj, one = _linked_doc(docs)
    merge_edges_batch(docs, 0, edges_path)

    stored = one.withColumn(
        "last_edited_time", F.lit("2030-06-01T09:00:00.000000Z")
    ).localCheckpoint(eager=True)
    merge_edges_batch(stored, 1, edges_path)
    want = _extracted(stored)
    assert want and _snapshot(spark, edges_path, subj) == want

    # the late version carries no spans at all: applying it would wipe
    late = (
        stored.withColumn("last_edited_time", F.lit("2030-06-01T10:00:00.000000+0200"))
        .withColumn("spans", F.filter("spans", lambda s: F.lit(False)))
        .localCheckpoint(eager=True)
    )
    merge_edges_batch(late, 2, edges_path)
    assert _snapshot(spark, edges_path, subj) == want, "older instant was applied"

    newer = late.withColumn("last_edited_time", F.lit("2030-06-01T12:00:00.000000+0200"))
    merge_edges_batch(newer, 3, edges_path)
    assert _snapshot(spark, edges_path, subj) == set()
