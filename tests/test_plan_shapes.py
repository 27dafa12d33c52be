"""Physical-plan shape assertions — the scale properties the engine
promises must be visible in `.explain`: predicate pushdown to parquet,
column pruning, broadcast dims, codegen extraction (no Python in the
native hot path)."""

from pyspark.sql import functions as F

from knowledge_nexus_spark.operators.graphops import group_mentions, merge_sources
from knowledge_nexus_spark.plans.driver_queries import (
    q_tpch_q1,
    q_tpch_q6,
    q_tpch_region_revenue,
)

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    jvm = df.sparkSession.sparkContext._jvm
    return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_q6_pushdown_and_pruning(spark):
    plan = _plan(q_tpch_q6(spark, SF))
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]
    # column pruning: only the 3 needed columns reach the scan
    read = plan.split("ReadSchema")[1][:200]
    assert "l_extendedprice" in read and "l_partkey" not in read


def test_region_revenue_broadcasts_dims_not_facts(spark):
    """Only the BOUNDED dims (nation 25 rows / region 5 rows) carry a
    broadcast hint. customer is sf-linear — like the orders FACT its
    strategy is AQE-decided, because a pinned broadcast of an sf-linear
    side OOMs at 100× scale (Q3's rationale, applied suite-wide). At
    test SF AQE may legitimately still pick broadcast for the unpinned
    sides from runtime stats, so the hint level is asserted on the
    analyzed logical plan: every ResolvedHint subtree must be a bounded
    dim."""
    df = q_tpch_region_revenue(spark, SF)
    assert "BroadcastHashJoin" in _plan(df)

    logical = df._jdf.queryExecution().analyzed().toString()
    # A ResolvedHint node's child is the next Relation below it; TPC-H
    # column prefixes identify the table (n_/r_ bounded dims; c_/l_/o_
    # grow with sf).
    import re
    for block in logical.split("ResolvedHint")[1:]:
        rel = re.search(r"Relation \[([a-z])_", block)
        assert rel is not None
        assert rel.group(1) in {"n", "r"}, (
            f"broadcast hint pinned on sf-linear table prefix {rel.group(1)}_"
        )
    # and the bounded dims really are hinted
    assert logical.count("ResolvedHint") >= 2


def test_q1_partial_aggregation(spark):
    plan = _plan(q_tpch_q1(spark, SF))
    # map-side combine: two HashAggregates around one Exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_native_extraction_has_no_python(spark):
    """The fused projection — render + extraction, the library's only
    triple extraction — runs without a Python worker."""
    from knowledge_nexus_spark.datagen import CorpusConfig, generate_documents
    from knowledge_nexus_spark.pipeline import PipelineConfig, fused_docs_projection

    docs = generate_documents(spark, CorpusConfig(n_docs=10)).localCheckpoint(eager=True)
    plan = _plan(fused_docs_projection(docs, PipelineConfig()))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert marker not in plan, f"Python stage {marker} in the native extract plan"


def test_fused_projection_parses_rich_runs_once(spark):
    """The fused content+triples projection must hold exactly ONE from_json
    of the rich_runs payload: render fold, triple extraction, and bookmark
    hrefs all consume the shared parsed-runs field (spans_with_runs).
    Regression guard for the round-2 headline slowdown (3 independent
    parses over the same span bytes)."""
    from knowledge_nexus_spark.datagen import CorpusConfig, generate_documents
    from knowledge_nexus_spark.operators.graphops import freshness_dedup
    from knowledge_nexus_spark.pipeline import PipelineConfig, fused_docs_projection

    docs = generate_documents(spark, CorpusConfig(n_docs=10))
    combined = fused_docs_projection(freshness_dedup(docs), PipelineConfig())
    plan = combined._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("from_json") == 1, (
        f"expected exactly 1 shared rich_runs parse, found {plan.count('from_json')}"
    )


def test_freshness_tiebreak_deterministic_and_single_exchange(spark):
    """Equal-timestamp versions pick a stable winner across orderings, and
    the peers-count guard must not add a second shuffle."""
    from knowledge_nexus_spark.operators.graphops import freshness_dedup

    schema = (
        "doc_id string, title string, doc_kind string, url string,"
        " archived boolean, in_trash boolean, last_edited_time string,"
        " spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )
    v = lambda t: ("d1", t, "page", "", False, False,  # noqa: E731
                   "2024-01-01T00:00:00.000001Z",
                   [{"kind": "paragraph", "text": t, "media_ref": None, "offset": 0}])
    a = spark.createDataFrame([v("alpha"), v("beta")], schema)
    b = spark.createDataFrame([v("beta"), v("alpha")], schema)
    ra = freshness_dedup(a).collect()[0].title
    rb = freshness_dedup(b).collect()[0].title
    assert ra == rb  # same winner regardless of input order

    plan = freshness_dedup(a)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_merge_sources_and_group_mentions(spark):
    a = spark.createDataFrame(
        [("d1", "t1", "page", "", False, False, "2024-01-01T00:00:00.000001Z", None)],
        "doc_id string, title string, doc_kind string, url string, archived boolean,"
        " in_trash boolean, last_edited_time string, spans array<struct<kind:string,"
        "text:string,media_ref:string,offset:int>>",
    )
    b = spark.createDataFrame(
        [("d1", "t1-newer", "page", "", False, False, "2024-01-02T00:00:00.000001Z", None),
         ("d2", "t2", "page", "", False, False, "2024-01-01T00:00:00.000001Z", None)],
        a.schema,
    )
    merged = merge_sources(a, b)
    got = {r.doc_id: r.title for r in merged.collect()}
    assert got == {"d1": "t1-newer", "d2": "t2"}

    m = spark.createDataFrame(
        [("d1", "ORG", "acme"), ("d2", "ORG", "acme"), ("d1", "ORG", "umbrella"),
         ("d1", "LOC", "berlin")],
        ["doc_id", "label", "mention"],
    )
    grouped = {r.label: (set(r.mentions), r.n_distinct) for r in group_mentions(m).collect()}
    assert grouped["ORG"] == ({"acme", "umbrella"}, 2)
    assert grouped["LOC"] == ({"berlin"}, 1)


def test_asof_join_single_exchange(spark):
    """The as-of join is one shuffle on the key: exactly one
    hash-partitioning Exchange (union + window), never a join operator."""
    from knowledge_nexus_spark.operators.temporal import asof_join

    ev = spark.read.parquet(f"{SF}/events.parquet")
    left = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    right = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    plan = (
        asof_join(left, right, on="user_id", right_cols=["ts", "event_id"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_hll_partial_aggregation(spark):
    """Register build must partially aggregate map-side (two HashAggregate
    levels per groupBy): the shuffle carries m rows per group, not rows."""
    from knowledge_nexus_spark.operators.sketches import hll_distinct

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(hll_distinct(ev, "event_type", "event_id"))
    assert plan.count("HashAggregate") >= 4  # partial+final × two groupBys
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on the join key must SortMergeJoin with ZERO
    Exchange — the co-located layout removes the network cost entirely
    (the residual in-bucket Sort is local CPU over 1/B of the data)."""
    from knowledge_nexus_spark.storage.bucketed import bucketed_join, write_bucketed

    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        F.col("o_orderkey").alias("orderkey"), "o_orderpriority"
    )
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        F.col("l_orderkey").alias("orderkey"), "l_extendedprice"
    )
    write_bucketed(orders, "t_b_orders", "orderkey", path=str(tmp_path / "o"))
    write_bucketed(li, "t_b_lineitem", "orderkey", path=str(tmp_path / "l"))

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(bucketed_join(spark, "t_b_orders", "t_b_lineitem", "orderkey"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, "bucketed join must not reshuffle"
    assert plan.count("Bucketed: true") == 2


def test_q20_semi_join_and_no_pinned_broadcast(spark):
    """Q20-adapted must qualify suppliers with a LEFT SEMI join (never a
    full join + distinct), and every join side in it is sf-linear, so
    no broadcast hint may be pinned anywhere — strategy is AQE's."""
    from knowledge_nexus_spark.plans.driver_queries import q_tpch_q20_adapted

    plan = _plan(q_tpch_q20_adapted(spark, SF))
    assert "LeftSemi" in plan
    logical = q_tpch_q20_adapted(spark, SF)._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical, (
        "sf-linear side carries a pinned broadcast hint"
    )


def test_knn_self_join_band_shuffle_is_narrow(spark):
    """The (band, key) candidate self-join must shuffle (id, band, key)
    only — an Exchange that carries the embedding array moves every
    vector `bands` times per row (round-3 What's-wrong #2)."""
    import re

    from knowledge_nexus_spark.operators.similarity import knn_self_join

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    # At test SF AQE broadcasts the band join (no hash Exchange to inspect);
    # disable broadcast so the shuffle the 100 TB plan would take is visible.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(knn_self_join(emb, "vec_id", "embedding", k=3, dim=dim))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    blocks = re.findall(
        r"Exchange\nInput \[\d+\]: \[([^\]]*)\]\nArguments: hashpartitioning\(band",
        plan,
    )
    assert blocks, "no (band, key) Exchange found in the candidate join plan"
    for inputs in blocks:
        assert "vec" not in inputs and "embedding" not in inputs, (
            f"band Exchange carries an array column: [{inputs}]"
        )


def test_pagerank_iteration_is_pure_jvm(spark):
    from knowledge_nexus_spark.operators.pagerank import pagerank_fixed_point

    nodes = spark.createDataFrame([(i,) for i in range(20)], "id long")
    edges = spark.createDataFrame(
        [(i, (i * 7 + 3) % 20) for i in range(20)], "src long, dst long"
    )
    plan = _plan(pagerank_fixed_point(nodes, edges, iterations=2))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_q16_anti_join_and_early_distinct(spark):
    """Q16-adapted must exclude the supplier blacklist with a LEFT ANTI
    join (never NOT IN as a shuffled subquery), and the DISTINCT must
    run BEFORE the final count so it is a plain row count. The
    blacklist is an sf-linear slice, so the anti-join's strategy is
    AQE-decided, not hint-pinned (at test SF stats still pick
    broadcast)."""
    from knowledge_nexus_spark.plans.driver_queries import q_tpch_q16_adapted

    plan = _plan(q_tpch_q16_adapted(spark, SF))
    assert "LeftAnti" in plan
    # no count(distinct ...) expansion: the aggregate is count(1)
    assert "count(distinct" not in plan.lower()


def test_topk_per_group_has_single_shuffle_no_global_sort(spark):
    """Per-group top-k must shuffle ONCE on the group key and rank inside
    partitions; a global Sort over the full table (TakeOrderedAndProject
    aside, which bounds rows to k*groups) would not survive 100 TB."""
    import re

    from knowledge_nexus_spark.plans.driver_queries import q_docs_topk_per_lang

    plan = _plan(q_docs_topk_per_lang(spark, SF))
    hash_exchanges = re.findall(r"hashpartitioning\((\w+)", plan)
    assert hash_exchanges == ["lang"], hash_exchanges
    assert "WindowGroupLimit" in plan or "RunningWindowFunction" in plan or (
        "Window" in plan
    )


def test_events_json_extraction_is_jvm_side(spark):
    from knowledge_nexus_spark.plans.driver_queries import q_events_json

    plan = _plan(q_events_json(spark, SF))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    assert "get_json_object" in plan


def test_q15_argmax_broadcasts_single_row_max(spark):
    """Q15-adapted joins the grouped frame against the one-row global
    max with a broadcast — the max side must never shuffle the fact."""
    from knowledge_nexus_spark.plans.driver_queries import q_tpch_q15_adapted

    plan = _plan(q_tpch_q15_adapted(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_q2_argmin_uses_join_back_not_window(spark):
    """The per-group argmin must compile to agg + hash-join-back — a
    Window/row_number plan would sort every group, which is the shape
    this query exists to avoid (docs_topk_per_lang covers the window
    form)."""
    from knowledge_nexus_spark.plans.driver_queries import q_tpch_q2_adapted

    plan = _plan(q_tpch_q2_adapted(spark, SF))
    assert "Window" not in plan
    assert "HashAggregate" in plan


def test_anomaly_broadcasts_group_stats(spark):
    """The per-type moment table is group-cardinality-sized; joining it
    back must broadcast, never shuffle the event stream."""
    from knowledge_nexus_spark.plans.driver_queries import q_events_anomaly

    plan = _plan(q_events_anomaly(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_salted_agg_shuffles_on_salt_first(spark):
    """The salted aggregate must keep the salt column in its first
    shuffle key — without it the plan degenerates to the single-phase
    hot-key shuffle the query exists to avoid."""
    from knowledge_nexus_spark.plans.driver_queries import q_events_salted_agg

    plan = _plan(q_events_salted_agg(spark, SF))
    assert "pmod" in plan  # the salt expression survives into the keys
    assert plan.count("HashAggregate") >= 4  # partial+final for both phases


def test_snapshot_diff_never_shuffles_text(spark):
    """The full-outer reconciliation must join narrow (doc_id, n_chars)
    projections — the text payload below the join Exchange would make
    table diff a payload-shuffle problem at 100 TB."""
    from knowledge_nexus_spark.plans.driver_queries import q_kg_snapshot_diff

    plan = _plan(q_kg_snapshot_diff(spark, SF))
    assert "FullOuter" in plan
    read = plan.split("ReadSchema")[1][:300]
    assert "text" not in read and "doc_id" in read


def test_substring_pairs_shuffle_carries_fingerprints_only(spark):
    """The substring-window self-join must exchange (fingerprint, id)
    rows — the token array or text below the wide Exchange would make
    substring dedup a payload-shuffle problem at 100 TB. Window
    generation is one native projection: no Python stage anywhere."""
    from knowledge_nexus_spark.plans.driver_queries import q_dedup_substring

    plan = _plan(q_dedup_substring(spark, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # every Exchange's output schema is fingerprint/id-only
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1) and "tk" not in m.group(1)
    # the scan prunes to (doc_id, text)
    read = plan.split("ReadSchema")[1][:200]
    assert "doc_id" in read and "lang" not in read


def test_skew_split_join_hot_branch_is_broadcast(spark):
    """The hot branch must carry the broadcast hint (pinned plan shape —
    not left to AQE stats), and the union must contain exactly the two
    inner-join branches."""
    from knowledge_nexus_spark.plans.driver_queries import q_events_skew_join

    df = q_events_skew_join(spark, SF)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert logical.count("ResolvedHint") == 1
    assert "Union" in logical
    assert _plan(df).count("BroadcastHashJoin") >= 1


def test_pii_redaction_is_pure_codegen_projection(spark):
    """Redaction fuses into the scan: one WholeStageCodegen span, no
    exchange before the (ordering) sink, no Python."""
    from knowledge_nexus_spark.plans.driver_queries import q_text_pii_redact

    plan = _plan(q_text_pii_redact(spark, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # the only exchange is the final global-order rangepartitioning
    import re

    hashex = re.findall(r"Exchange hashpartitioning", plan)
    assert not hashex


def test_kcore_rounds_are_semi_joins_no_python(spark):
    """Each peel round must appear as left-semi joins over narrow
    (src, dst) rows — no Python stage, no payload columns — and the
    lineage-cut checkpoints keep the unrolled plan from re-evaluating
    the subtree 2^rounds times (bounded plan: at most one scan of the
    checkpointed edge set per consumer)."""
    from knowledge_nexus_spark.operators.components import kcore_peel
    from knowledge_nexus_spark.plans.driver_queries import q_kg_kcore

    edges = spark.range(20).selectExpr("id AS src", "(id * 7 + 1) % 20 AS dst")
    full = _plan(kcore_peel(edges, k=2, iterations=2, checkpoint=False))
    assert "ArrowEvalPython" not in full and "BatchEvalPython" not in full
    # two semi-joins per round; without lineage cuts the shared
    # subtrees are DUPLICATED in the plan (the 2^rounds blowup made
    # visible — ~400 nodes for 2 rounds), hence >= not ==
    assert full.count("LeftSemi") >= 4
    # the gate query runs the checkpointed form: the final plan must be
    # BOUNDED — one scan of the last checkpoint, not 2^rounds subtrees
    cut = _plan(q_kg_kcore(spark, SF))
    assert "ArrowEvalPython" not in cut and "BatchEvalPython" not in cut
    assert "Scan ExistingRDD" in cut and cut.count("LeftSemi") == 0


def test_q21_decorrelated_no_fact_self_join(spark):
    """Q21-adapted must run the decorrelated form: the lineitem fact is
    scanned ONCE (the EXISTS / NOT EXISTS pair collapses into one
    per-(order, supplier) aggregate), the supplier dim is the only
    broadcast hint, and no Python stage appears."""
    import re

    from knowledge_nexus_spark.plans.driver_queries import q_tpch_q21_adapted

    df = q_tpch_q21_adapted(spark, SF)
    plan = _plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # one lineitem scan: a correlated-EXISTS translation would scan it 3x
    assert plan.count("lineitem.parquet") == 1, (
        f"lineitem scanned {plan.count('lineitem.parquet')}x — "
        "the correlated subqueries did not decorrelate"
    )
    logical = df._jdf.queryExecution().analyzed().toString()
    # supplier is sf-linear: no pinned broadcast anywhere in Q21
    assert "ResolvedHint" not in logical, (
        "sf-linear side carries a pinned broadcast hint"
    )


def test_docs_curation_dedup_shuffle_is_narrow(spark):
    """The curation pass's dedup Exchange must carry (fingerprint,
    doc_id) only — shuffling document text moves the whole corpus; and
    the per-language rank must be the salted two-phase form (two window
    sorts: (lang, salt) then (lang))."""
    import re

    from knowledge_nexus_spark.plans.driver_queries import q_docs_curation

    plan = _plan(q_docs_curation(spark, SF))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    blocks = re.findall(
        r"Exchange\nInput \[\d+\]: \[([^\]]*)\]\nArguments: hashpartitioning\(fp",
        plan,
    )
    assert blocks, "no fingerprint Exchange found in the dedup stage"
    assert all("text" not in b for b in blocks), (
        "dedup Exchange carries the text column"
    )
    # salted two-phase top-k: both window partitionings present
    assert re.search(r"hashpartitioning\(lang[^)]*salt", plan), (
        "phase-1 (lang, salt) window partitioning missing"
    )


def test_q18_aggregates_fact_before_join(spark):
    """Q18-adapted must pre-aggregate lineitem (partial+final
    HashAggregate around one Exchange) and apply the HAVING filter
    BEFORE the orders join; no broadcast hint anywhere (customer is
    sf-linear — AQE decides). Join-then-aggregate would shuffle the
    full fact-join output."""
    import re

    from knowledge_nexus_spark.plans.driver_queries import q_tpch_q18_adapted

    df = q_tpch_q18_adapted(spark, SF)
    plan = _plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # the HAVING filter must sit between the aggregate and the join:
    # in the formatted plan the Filter on sq appears above the
    # HashAggregate pair and below any SortMergeJoin/BroadcastHashJoin
    # over o_orderkey — assert the aggregate exists and the filter
    # references the aggregated column, not a joined one
    assert plan.count("HashAggregate") >= 2
    m = re.search(r"\(\d+\) Filter\nInput \[2\]: \[l_orderkey[^\]]*, sq", plan)
    assert m, "HAVING filter does not run directly on the aggregate output"
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical, (
        "sf-linear side carries a pinned broadcast hint"
    )


def test_q19_disjunction_hoisted_to_both_scans(spark):
    """Q19-adapted must push the UNION of each side's disjunct bounds to
    its parquet scan: the part scan's PushedFilters carry p_brand/p_size
    and the lineitem scan's carry l_quantity bounds — the OR-of-ANDs may
    survive only as a residual filter on pre-pruned rows. Part (dim) is
    the only broadcast hint."""
    import re

    from knowledge_nexus_spark.plans.driver_queries import q_tpch_q19_adapted

    df = q_tpch_q19_adapted(spark, SF)
    plan = _plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    scans = plan.split("PushedFilters")[1:]
    part_scan = [s for s in scans if "p_brand" in s[:400]]
    li_scan = [s for s in scans if "l_quantity" in s[:400]]
    assert part_scan, "part-side union (brand/size) not pushed to the part scan"
    assert "p_size" in part_scan[0][:400], "p_size bound missing from part scan"
    assert li_scan, "l_quantity union bound not pushed to the lineitem scan"
    # lineitem reads only the 4 needed columns (quantity, partkey, price, disc)
    for s in plan.split("ReadSchema")[1:]:
        if "l_quantity" in s[:300]:
            assert "l_shipdate" not in s[:300], "lineitem scan reads unused columns"
    logical = df._jdf.queryExecution().analyzed().toString()
    # the pruned part slice is still sf-linear: no pinned broadcast in Q19
    assert "ResolvedHint" not in logical, (
        "sf-linear side carries a pinned broadcast hint"
    )


def test_q22_anti_join_and_divisionless_benchmark(spark):
    """Q22-adapted must express "no 1997 order" as a LEFT ANTI join (not
    a correlated probe), push the order-date prune to the orders scan,
    and read only o_custkey+o_orderdate from orders. The one-row
    positive-average aggregate is broadcast."""
    from knowledge_nexus_spark.plans.driver_queries import q_tpch_q22_adapted

    df = q_tpch_q22_adapted(spark, SF)
    plan = _plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "LeftAnti" in plan, "orders exclusion must be a LEFT ANTI join"
    scans = plan.split("PushedFilters")[1:]
    assert any("o_orderdate" in s[:400] for s in scans), (
        "order-date prune not pushed to the orders scan"
    )
    for s in plan.split("ReadSchema")[1:]:
        if "o_custkey" in s[:300]:
            assert "o_totalprice" not in s[:300], "orders scan reads unused columns"
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, (
        "one-row benchmark aggregate should broadcast into the customer scan"
    )


def test_q9_fact_exchanges_are_orderkey_join_and_final_agg_only(spark):
    """Q9-adapted is the deepest join tree in the suite (5 joins). Only
    the 25-row nation dim is hint-pinned; part/supplier are sf-linear
    and AQE-decided, but at test SF stats must still put all three on
    the broadcast path, so the only shuffle exchanges in the whole plan
    are the fact-fact orderkey join and the final (nation, year)
    aggregate. A third exchange means a small side silently fell off
    the broadcast path and the fact is being re-partitioned for it —
    the 100 TB killer this query exists to pin."""
    from knowledge_nexus_spark.plans.driver_queries import q_tpch_q9_adapted

    df = q_tpch_q9_adapted(spark, SF)
    plan = _plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    n_bcast = plan.count("BroadcastExchange")
    assert n_bcast >= 3, f"part/supplier/nation must all broadcast, saw {n_bcast}"
    n_shuffle = plan.count("Exchange hashpartitioning")
    assert n_shuffle <= 3, (
        f"fact should shuffle only for the orderkey join + final agg, saw "
        f"{n_shuffle} hash exchanges"
    )
    # the %red% prune must reach the part scan, not run post-join
    scans = plan.split("PushedFilters")[1:]
    assert any("p_name" in s[:400] for s in scans), (
        "p_name LIKE prune not pushed to the part scan"
    )


def test_q10_aggregates_and_limits_before_customer_enrich(spark):
    """Q10-adapted must take the top-20 on the (custkey, revenue)
    aggregate FIRST and join customer attributes onto the 20-row
    result — the limit sits BELOW the customer join in the plan tree.
    Enrich-then-aggregate would drag c_name/c_acctbal through the big
    fact shuffle."""
    from knowledge_nexus_spark.plans.driver_queries import q_tpch_q10_adapted

    df = q_tpch_q10_adapted(spark, SF)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, "top-20 must be a sort-limit"
    # the customer scan must not read columns into the fact aggregate:
    # revenue agg happens over (o_custkey, price, discount) only
    agg_sections = [
        s for s in plan.split("HashAggregate")[1:] if "revenue" in s[:600]
    ]
    assert agg_sections, "expected a revenue HashAggregate"
    assert all("c_name" not in s[:600] for s in agg_sections), (
        "customer attributes leaked below the revenue aggregate"
    )


def test_q11_benchmark_is_one_row_broadcast_and_division_free(spark):
    """Q11-adapted compares 10*n*val4 > 13*total in exact decimals: the
    global benchmark re-agg is a one-row broadcast (never a shuffle
    join back onto per-part rows) and the membership test contains no
    division or double cast — CheckOverflow/decimal multiply only."""
    from knowledge_nexus_spark.plans.driver_queries import q_tpch_q11_adapted

    df = q_tpch_q11_adapted(spark, SF)
    plan = _plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, (
        "one-row benchmark must broadcast"
    )
    # division-free: no Divide in any Filter section of the plan
    for sec in plan.split("Condition :")[1:]:
        head = sec.splitlines()[0] if sec.splitlines() else ""
        assert " / " not in head, f"membership test must not divide: {head}"


def test_labelprop_argmax_has_no_window_sort(spark):
    """label_propagation's per-node argmax is a struct-max AGGREGATION;
    a Window/row_number plan would sort every node's vote list — the
    shape the operator's docstring promises to avoid (the SQL oracle
    deliberately uses the window form as the independent derivation)."""
    from knowledge_nexus_spark.plans.driver_queries import q_kg_labelprop

    plan = _plan(q_kg_labelprop(spark, SF))
    assert "Window" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2  # vote count + struct-max argmax


def test_caption_pairs_native_zero_exchange_no_join_no_python(spark):
    """mm_captions (caption_pairs_native): the caption of a media span is
    a pure function of its own document's spans array, so the plan is
    scan → project → generate — ZERO Exchanges, no window, no join, no
    Python. Embarrassingly parallel over document splits at 100 TB."""
    from knowledge_nexus_spark.plans.driver_queries import q_mm_captions

    plan = _plan(q_mm_captions(spark, SF))
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "Join" not in plan
    assert "Python" not in plan and "BatchEvalPython" not in plan


def test_caption_pairs_window_sibling_single_exchange(spark):
    """caption_pairs (the window sibling for thousand-span documents):
    posexplode + ONE window over (doc_id, pos) — a single hash Exchange
    on doc_id. The per-task sort buffer holds one document's spans."""
    from knowledge_nexus_spark.multimodal import (
        caption_pairs,
        interleave_media_spans,
    )

    docs = interleave_media_spans(
        spark.read.parquet(f"{SF}/documents.parquet")
    )
    plan = _plan(caption_pairs(docs))
    assert plan.count("+- Exchange") == 1
    assert plan.count("hashpartitioning(doc_id") == 1
    assert "Join" not in plan
    assert "Python" not in plan and "BatchEvalPython" not in plan
