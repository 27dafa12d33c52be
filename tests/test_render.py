"""Per-kind render goldens — the reference's to_markdown_parser templates
(to_markdown_parser.py:95-348), unit-tested pure like its own suite."""

from knowledge_nexus_spark.functions.render import render_spans_py


def sp(kind, text=None, media_ref=None, offset=0):
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


def test_block_templates():
    cases = [
        (sp("paragraph", "hello"), "hello\n\n"),
        (sp("heading_2", "head"), "## head\n\n"),
        (sp("bulleted_list_item", "item", None, 1), "  - item\n"),
        (sp("numbered_list_item", "item"), "1. item\n"),
        (sp("to_do", "task", "checked"), "- [x] task\n"),
        (sp("to_do", "task", "unchecked"), "- [ ] task\n"),
        (sp("code", "x = 1", "python"), "```python\nx = 1\n```\n\n"),
        (sp("quote", "q"), "> q\n\n"),
        (sp("callout", "c", "bulb"), "> :bulb: c\n\n"),
        (sp("child_page", "T"), "Child page: T\n\n"),
        (sp("child_database", "D"), "Child database: D\n\n"),
        (sp("bookmark", "cap", "http://u"), "[cap](http://u)\n\n"),
        (sp("bookmark", None, "http://u"), "[Bookmark](http://u)\n\n"),
        (sp("embed", None, "http://u"), "[Embed: http://u]\n\n"),
        (sp("link_preview", None, "http://u"), "[Link Preview: http://u]\n\n"),
        (sp("link_to_page", None, "ab-cd"), "[Link to page: abcd]\n\n"),
        (sp("image", "cap", "http://i"), "![cap](http://i)\n\n"),
        (sp("video", "cap", "http://v"), "[Video: http://v - cap]\n\n"),
        (sp("video", None, "http://v"), "[Video: http://v]\n\n"),
        (sp("file", "f", "http://f"), "[File: [f](http://f) - f]\n\n"),
        (sp("pdf", None, "http://p"), "[PDF](http://p)]\n\n"),  # reference's unbalanced ']'
        (sp("divider"), "---\n\n"),
        (sp("equation", "E"), "$$\nE\n$$\n\n"),
        (sp("synced_block"), "[Original Synced Block]\n\n"),
        (sp("synced_block", None, "orig1"), "[Synced Block: Original ID orig1]\n\n"),
        (sp("table", None, "3,True,False"),
         "[Table: 3 columns, Column Header: True, Row Header: False]\n\n"),
        (sp("table_row", "a|b|c"), "| a | b | c |\n"),
        (sp("toggle", "s"), "<details>\n<summary>s</summary>\n<details>\n\n"),
        (sp("template", "t"), "[Template: t]\n\n"),
        # excluded block kinds render nothing (config.yaml:29-34)
        (sp("breadcrumb"), ""),
        (sp("table_of_contents"), ""),
    ]
    for span, want in cases:
        assert render_spans_py([span]) == want, span["kind"]


def test_property_templates():
    spans = [
        sp("prop_title", "My Title", "Name"),
        sp("prop_checkbox", "Done", "true"),
        sp("prop_select", "Tag", "red"),
        sp("prop_multi_select", "Tags", "a,b"),
        sp("prop_number", "Score", "42"),
        sp("prop_date", "When", "2024-01-02T03:04:05.000Z"),
        sp("prop_people", "Team", "Alice,Bob"),
        sp("prop_status", "Status", "Open"),
        sp("prop_relation", "Related", "abc123"),
        sp("prop_url", "Source", "http://u"),
        sp("prop_created_by", "Creator", "Bot"),  # excluded type
    ]
    out = render_spans_py(spans)
    assert out.startswith("###Properties:\n")
    assert "**Name**: My Title\n" in out
    assert "**Done**: ✅\n" in out
    assert "**Tag**: #red\n" in out
    assert "**Tags**: #a #b\n" in out
    assert "**Score**: 42\n" in out
    assert "**When**: 2024-01-02 03:04:05\n" in out
    assert "**Team**: Alice, Bob\n" in out
    assert "**Status**: Open\n" in out
    assert "**Related**: [Related Page](abc123)\n" in out
    assert "**Source**: [http://u](http://u)\n" in out
    assert "Creator" not in out and "Bot" not in out


def test_indent_and_order_preserved():
    spans = [
        sp("heading_1", "A"),
        sp("paragraph", "first", None, 0),
        sp("paragraph", "nested", None, 2),
        sp("paragraph", "last", None, 0),
    ]
    out = render_spans_py(spans)
    assert out == "# A\n\nfirst\n\n    nested\n\nlast\n\n"


def _native_render(df):
    """render_spans_native over the parsed-runs spans, one string per row."""
    from pyspark.sql import functions as F

    from knowledge_nexus_spark.functions.render import render_spans_native, spans_with_runs

    return [
        r.c
        for r in df.select(spans_with_runs(F.col("spans")).alias("spans"))
        .select(render_spans_native(F.col("spans")).alias("c"))
        .collect()
    ]


def test_native_render_equals_python_render(spark):
    """The JVM native renderer and the plain-Python renderer are two
    implementations of the same templates — byte-identical output."""
    from knowledge_nexus_spark.datagen import CorpusConfig, generate_documents

    docs = generate_documents(spark, CorpusConfig(n_docs=150, seed=23)).localCheckpoint(True)
    ordered = docs.orderBy("doc_id", "last_edited_time")
    want = [render_spans_py([s.asDict() for s in r.spans]) for r in ordered.collect()]
    assert _native_render(ordered) == want


def test_date_passthrough_on_bad_value():
    out = render_spans_py([sp("prop_date", "When", "not-a-date")])
    assert "**When**: not-a-date\n" in out


def test_rich_runs_annotation_fold_goldens():
    """P5 fold semantics pinned to the reference's _extract_rich_text
    (to_markdown_parser.py:353-379): wrap order code→bold→italic→strike→
    underline, then link, then color span with _background stripped."""
    from knowledge_nexus_spark.functions.render import fold_runs_py

    assert fold_runs_py([{"plain_text": "x", "code": True}]) == "`x`"
    assert fold_runs_py([{"plain_text": "x", "bold": True}]) == "**x**"
    assert fold_runs_py([{"plain_text": "x", "italic": True}]) == "*x*"
    assert fold_runs_py([{"plain_text": "x", "strikethrough": True}]) == "~~x~~"
    assert fold_runs_py([{"plain_text": "x", "underline": True}]) == "<u>x</u>"
    # nesting order: bold applied before italic → italic wraps outside
    assert fold_runs_py([{"plain_text": "x", "bold": True, "italic": True}]) == "***x***"
    assert (
        fold_runs_py([{"plain_text": "x", "code": True, "bold": True}]) == "**`x`**"
    )
    # link wraps the annotated content
    assert (
        fold_runs_py([{"plain_text": "x", "bold": True, "href": "https://e.x"}])
        == "[**x**](https://e.x)"
    )
    # color span outermost; '_background' suffix stripped
    assert (
        fold_runs_py([{"plain_text": "x", "color": "blue_background"}])
        == '<span style="color: blue">x</span>'
    )
    assert fold_runs_py([{"plain_text": "x", "color": "default"}]) == "x"
    # runs concatenate in order
    assert (
        fold_runs_py([{"plain_text": "a", "bold": True}, {"plain_text": "b"}])
        == "**a**b"
    )


def test_rich_runs_native_fold_matches_python(spark):
    """The native fold over from_json-parsed runs and the Python fold are
    byte-identical, including inside the full-document render."""
    import json

    from pyspark.sql import functions as F

    from knowledge_nexus_spark.functions.render import (
        RUNS_DDL,
        fold_runs_arr_expr,
        fold_runs_py,
    )

    cases = [
        [{"plain_text": "x", "code": True, "bold": True, "italic": True,
          "strikethrough": True, "underline": True, "href": "https://e.x/1",
          "color": "red_background"}],
        [{"plain_text": "a"}, {"plain_text": "b", "bold": True},
         {"plain_text": "c", "href": "/page-0123456789abcdef0123456789abcdef"}],
        [{"plain_text": None, "bold": True}],
        [],
    ]
    rows = [(json.dumps(c, sort_keys=True),) for c in cases]
    df = spark.createDataFrame(rows, ["runs_json"])
    native = [
        r.f
        for r in df.select(
            fold_runs_arr_expr(F.from_json(F.col("runs_json"), RUNS_DDL)).alias("f")
        ).collect()
    ]
    py = [fold_runs_py(c) for c in cases]
    assert native == py

    spans_rows = [
        [{"kind": "rich_runs", "text": rj, "media_ref": None, "offset": d}]
        for d, (rj,) in enumerate(rows)
    ]
    sdf = spark.createDataFrame(
        [(s,) for s in spans_rows],
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    assert _native_render(sdf) == [render_spans_py(spans) for spans in spans_rows]
