"""Span-sequence → markdown rendering (the P5/P8/P9 projection).

Per-kind templates mirror graph_rag/data_source/to_markdown_parser.py:95-348
(block handlers) and :76-85 (property rendering, which the reference places
before the block content — notion_provider.py:152-162). The default
exclusion lists from config/config.yaml:22-34 are applied.

Executed as ONE native expression over the spans array column
(``render_spans_native``, inside pipeline.fused_docs_projection) —
parallelism is across documents, per-doc rendering is a fold over the
array that preserves span order. ``render_spans_py`` / ``fold_runs_py``
are the plain-Python reference of the same templates, pinned equal to the
native render by test.
"""

from __future__ import annotations

from pyspark.sql import functions as F

INDENT = "  "  # config.yaml:21 markdown_parser_options.indent

EXCLUDED_BLOCK_KINDS = {"breadcrumb", "column_list", "column", "table_of_contents"}

PROP_KINDS = {
    "prop_title", "prop_rich_text", "prop_relation", "prop_url",
    "prop_checkbox", "prop_date", "prop_email", "prop_number", "prop_select",
    "prop_multi_select", "prop_status", "prop_people", "prop_phone_number",
    "prop_files", "prop_formula", "prop_rollup", "prop_created_time",
    "prop_last_edited_time",
}

# excluded property types (config.yaml:22-28): created_by, last_edited_by,
# unique_id, verification — spans of those kinds render to nothing
EXCLUDED_PROP_KINDS = {
    "prop_created_by", "prop_last_edited_by", "prop_unique_id", "prop_verification",
}


def _format_date(value: str) -> str:
    """ISO-8601 → 'YYYY-MM-DD HH:MM:SS', passthrough on parse failure
    (to_markdown_parser.py:382-387)."""
    from datetime import datetime

    try:
        return datetime.fromisoformat(value.replace("Z", "+00:00")).strftime(
            "%Y-%m-%d %H:%M:%S"
        )
    except ValueError:
        return value


# P5: annotated rich-text runs. A span of kind "rich_runs" carries a JSON
# array of runs in `text` — the fixed input_hint span schema is preserved
# (kind, text, media_ref, offset) with the structure inside the text field.
RUNS_DDL = (
    "array<struct<plain_text:string,href:string,bold:boolean,italic:boolean,"
    "code:boolean,strikethrough:boolean,underline:boolean,color:string>>"
)


def fold_runs_py(runs: list[dict] | None) -> str:
    """Annotation fold, exactly the reference's `_extract_rich_text`
    (to_markdown_parser.py:353-379): wrap order code → bold → italic →
    strikethrough → underline, then the link, then the color span (with
    `_background` stripped); runs concatenate in order."""
    out = ""
    for rt in runs or []:
        content = rt.get("plain_text") or ""
        if rt.get("code"):
            content = f"`{content}`"
        if rt.get("bold"):
            content = f"**{content}**"
        if rt.get("italic"):
            content = f"*{content}*"
        if rt.get("strikethrough"):
            content = f"~~{content}~~"
        if rt.get("underline"):
            content = f"<u>{content}</u>"
        if rt.get("href"):
            content = f"[{content}]({rt['href']})"
        color = rt.get("color")
        if color and color != "default":
            content = f'<span style="color: {color.replace("_background", "")}">{content}</span>'
        out += content
    return out


def spans_with_runs(spans_col):
    """Rewrite the spans array with a typed ``runs`` field: the rich_runs
    JSON payload parsed ONCE per span. The fused pipeline projection has
    three independent consumers of the parsed runs (render fold, triple
    extraction, bookmark hrefs); parsing in each costs 2-3 from_json
    evaluations over the same bytes — the round-2 headline regression.
    This pre-projection is kept a separate Project node (Catalyst's
    CollapseProject never inlines a non-cheap expression referenced more
    than once), so downstream consumers share one parse."""
    return F.transform(
        spans_col,
        lambda s: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            s["offset"].alias("offset"),
            F.when(
                s["kind"] == "rich_runs",
                F.from_json(F.coalesce(s["text"], F.lit("")), RUNS_DDL),
            ).alias("runs"),
        ),
    )


def fold_runs_arr_expr(runs_col):
    """`fold_runs_py` over an ALREADY-PARSED runs array: per-run CASE wraps
    → concat_ws. Exact parity with `fold_runs_py` is test-pinned."""
    runs = runs_col

    def flag(r, name):
        return F.coalesce(r[name], F.lit(False))

    def fold(r):
        content = F.coalesce(r["plain_text"], F.lit(""))
        content = F.when(flag(r, "code"), F.concat(F.lit("`"), content, F.lit("`"))).otherwise(content)
        content = F.when(flag(r, "bold"), F.concat(F.lit("**"), content, F.lit("**"))).otherwise(content)
        content = F.when(flag(r, "italic"), F.concat(F.lit("*"), content, F.lit("*"))).otherwise(content)
        content = F.when(flag(r, "strikethrough"), F.concat(F.lit("~~"), content, F.lit("~~"))).otherwise(content)
        content = F.when(flag(r, "underline"), F.concat(F.lit("<u>"), content, F.lit("</u>"))).otherwise(content)
        content = F.when(
            r["href"].isNotNull() & (r["href"] != ""),
            F.concat(F.lit("["), content, F.lit("]("), r["href"], F.lit(")")),
        ).otherwise(content)
        return F.when(
            r["color"].isNotNull() & (r["color"] != "") & (r["color"] != "default"),
            F.concat(
                F.lit('<span style="color: '),
                F.regexp_replace(r["color"], "_background", ""),
                F.lit('">'), content, F.lit("</span>"),
            ),
        ).otherwise(content)

    return F.concat_ws("", F.transform(F.coalesce(runs, F.array().cast(RUNS_DDL)), fold))


def _render_block(kind: str, text: str, media_ref: str, offset: int) -> str:
    """One span → markdown fragment (to_markdown_parser.py block handlers)."""
    indent = INDENT * (offset or 0)
    text = text or ""
    if kind == "paragraph":
        return f"{indent}{text}\n\n"
    if kind == "rich_runs":
        import json

        try:
            runs = json.loads(text) if text else []
        except ValueError:
            runs = []
        return f"{indent}{fold_runs_py(runs)}\n\n"
    if kind in ("heading_1", "heading_2", "heading_3"):
        level = int(kind[-1])
        return f"{indent}{'#' * level} {text}\n\n"
    if kind == "bulleted_list_item":
        return f"{indent}- {text}\n"
    if kind == "numbered_list_item":
        return f"{indent}1. {text}\n"
    if kind == "to_do":
        box = "x" if media_ref == "checked" else " "
        return f"{indent}- [{box}] {text}\n"
    if kind == "toggle":
        return f"{indent}<details>\n{indent}<summary>{text}</summary>\n{indent}<details>\n\n"
    if kind == "code":
        lang = media_ref or ""
        return f"{indent}```{lang}\n{text}\n{indent}```\n\n"
    if kind == "quote":
        return f"{indent}> {text}\n\n"
    if kind == "callout":
        icon = f" :{media_ref}:" if media_ref else ""
        return f"{indent}>{icon} {text}\n\n"
    if kind == "template":
        return f"{indent}[Template: {text}]\n\n"
    if kind == "child_database":
        return f"{indent}Child database: {text}\n\n"
    if kind == "child_page":
        return f"{indent}Child page: {text}\n\n"
    if kind == "bookmark":
        return f"{indent}[{text or 'Bookmark'}]({media_ref})\n\n"
    if kind == "embed":
        return f"{indent}[Embed: {media_ref}]\n\n"
    if kind == "link_preview":
        return f"{indent}[Link Preview: {media_ref}]\n\n"
    if kind == "link_to_page":
        uuid = (media_ref or "").replace("-", "")
        return f"{indent}[Link to page: {uuid}]\n\n"
    if kind == "image":
        return f"{indent}![{text}]({media_ref})\n\n"
    if kind == "video":
        cap = f" - {text}" if text else ""
        return f"{indent}[Video: {media_ref}{cap}]\n\n"
    if kind == "file":
        cap = f" - {text}" if text else ""
        return f"{indent}[File: [{text or 'File'}]({media_ref}){cap}]\n\n"
    if kind == "pdf":
        # NB: the reference template emits an unbalanced ']' here
        # (to_markdown_parser.py:306-310) — kept for parity
        cap = f" - {text}" if text else ""
        return f"{indent}[PDF]({media_ref}){cap}]\n\n"
    if kind == "divider":
        return f"{indent}---\n\n"
    if kind == "equation":
        return f"{indent}$$\n{text}\n$$\n\n"
    if kind == "synced_block":
        if media_ref:
            return f"{indent}[Synced Block: Original ID {media_ref}]\n\n"
        return f"{indent}[Original Synced Block]\n\n"
    if kind == "table":
        # media_ref carries "width,has_col_header,has_row_header"
        w, ch, rh = ((media_ref or "0,False,False").split(",") + ["False", "False"])[:3]
        return f"{indent}[Table: {w} columns, Column Header: {ch}, Row Header: {rh}]\n\n"
    if kind == "table_row":
        cells = (text or "").split("|")
        return f"{indent}| {' | '.join(cells)} |\n"
    if kind in EXCLUDED_BLOCK_KINDS:
        return ""
    return ""  # unsupported kinds render empty (to_markdown_parser.py:91-93)


def _render_prop(kind: str, text: str, media_ref: str) -> str | None:
    """Property spans → '**name**: value' line (to_markdown_parser.py:76-85).

    Our span encoding: prop_title/prop_rich_text carry the value in `text`
    and the property name in `media_ref`; prop_relation/prop_url carry the
    name in `text` and the target/url in `media_ref`."""
    if kind == "prop_title" or kind == "prop_rich_text":
        if not text:
            return None
        return f"**{media_ref or 'Name'}**: {text}\n"
    if kind == "prop_relation":
        if not media_ref:
            return None
        return f"**{text or 'Relation'}**: [Related Page]({media_ref})\n"
    if kind == "prop_url":
        if not media_ref:
            return None
        return f"**{text or 'URL'}**: [{media_ref}]({media_ref})\n"
    # value-typed properties: name in `text`, value in `media_ref`
    # (templates mirror to_markdown_parser.py:95-192)
    name = text or kind.removeprefix("prop_")
    v = media_ref
    if v is None or v == "":
        return None
    if kind == "prop_checkbox":
        return f"**{name}**: {'✅' if v == 'true' else '❌'}\n"
    if kind == "prop_date":
        parts = v.split("/")
        if len(parts) == 2:
            return f"**{name}**: {_format_date(parts[0])} - {_format_date(parts[1])}\n"
        return f"**{name}**: {_format_date(v)}\n"
    if kind in ("prop_created_time", "prop_last_edited_time"):
        return f"**{name}**: {_format_date(v)}\n"
    if kind in ("prop_email", "prop_phone_number", "prop_number", "prop_formula"):
        return f"**{name}**: {v}\n"
    if kind == "prop_select":
        return f"**{name}**: #{v}\n"
    if kind == "prop_multi_select":
        tags = " ".join(f"#{t}" for t in v.split(",") if t)
        return f"**{name}**: {tags}\n"
    if kind == "prop_status":
        return f"**{name}**: {v}\n"
    if kind == "prop_people":
        return f"**{name}**: {', '.join(p for p in v.split(',') if p)}\n"
    if kind == "prop_files":
        links = ", ".join(f"[{u.rsplit('/', 1)[-1]}]({u})" for u in v.split(",") if u)
        return f"**{name}**: {links}\n"
    if kind == "prop_rollup":
        fn, _, val = v.partition(":")
        return f"**{name}**: {fn}: {val or 'N/A'}\n"
    return None


def render_spans_py(spans: list | None) -> str:
    """Full document render: properties header first, then blocks in order."""
    if spans is None:
        return ""
    props = ""
    body = ""
    for s in spans:
        kind = s["kind"]
        if kind in PROP_KINDS:
            line = _render_prop(kind, s.get("text"), s.get("media_ref"))
            if line:
                props += line
        elif kind in EXCLUDED_PROP_KINDS:
            continue  # config.yaml:22-28 exclusions render nothing
        else:
            body += _render_block(kind, s.get("text"), s.get("media_ref"), s.get("offset") or 0)
    header = f"###Properties:\n{props}" if props else ""
    return header + body


def render_spans_native(spans_col):
    """The same render as ONE native expression: two JVM folds over the
    span array (properties first, then blocks, like
    notion_provider.py:152-162's ordering) — no Python worker, no Arrow
    transfer. Kept in exact parity with ``render_spans_py`` by test.

    Per-kind templates are a CASE expression; the fold preserves span
    order by construction. The spans carry a typed ``runs`` field (see
    ``spans_with_runs``): the rich_runs fold consumes it instead of
    re-parsing the JSON text."""

    def txt(s):
        return F.coalesce(s["text"], F.lit(""))

    def ref(s):
        return s["media_ref"]

    def ind(s):
        return F.repeat(F.lit(INDENT), F.coalesce(s["offset"], F.lit(0)))

    def block_md(s):
        k = s["kind"]
        cap_sfx = F.when(txt(s) != "", F.concat(F.lit(" - "), txt(s))).otherwise(F.lit(""))
        return (
            F.when(k == "paragraph", F.concat(ind(s), txt(s), F.lit("\n\n")))
            .when(k == "rich_runs", F.concat(ind(s), fold_runs_arr_expr(s["runs"]), F.lit("\n\n")))
            .when(
                k.isin("heading_1", "heading_2", "heading_3"),
                F.concat(ind(s), F.repeat(F.lit("#"), F.substring(k, -1, 1).cast("int")),
                         F.lit(" "), txt(s), F.lit("\n\n")),
            )
            .when(k == "bulleted_list_item", F.concat(ind(s), F.lit("- "), txt(s), F.lit("\n")))
            .when(k == "numbered_list_item", F.concat(ind(s), F.lit("1. "), txt(s), F.lit("\n")))
            .when(
                k == "to_do",
                F.concat(ind(s), F.lit("- ["),
                         F.when(ref(s) == "checked", F.lit("x")).otherwise(F.lit(" ")),
                         F.lit("] "), txt(s), F.lit("\n")),
            )
            .when(
                k == "toggle",
                F.concat(ind(s), F.lit("<details>\n"), ind(s), F.lit("<summary>"), txt(s),
                         F.lit("</summary>\n"), ind(s), F.lit("<details>\n\n")),
            )
            .when(
                k == "code",
                F.concat(ind(s), F.lit("```"), F.coalesce(ref(s), F.lit("")), F.lit("\n"),
                         txt(s), F.lit("\n"), ind(s), F.lit("```\n\n")),
            )
            .when(k == "quote", F.concat(ind(s), F.lit("> "), txt(s), F.lit("\n\n")))
            .when(
                k == "callout",
                F.concat(ind(s), F.lit(">"),
                         F.when(ref(s).isNotNull() & (ref(s) != ""),
                                F.concat(F.lit(" :"), ref(s), F.lit(":"))).otherwise(F.lit("")),
                         F.lit(" "), txt(s), F.lit("\n\n")),
            )
            .when(k == "template", F.concat(ind(s), F.lit("[Template: "), txt(s), F.lit("]\n\n")))
            .when(k == "child_database", F.concat(ind(s), F.lit("Child database: "), txt(s), F.lit("\n\n")))
            .when(k == "child_page", F.concat(ind(s), F.lit("Child page: "), txt(s), F.lit("\n\n")))
            .when(
                k == "bookmark",
                F.concat(ind(s), F.lit("["),
                         F.when(txt(s) != "", txt(s)).otherwise(F.lit("Bookmark")),
                         F.lit("]("), F.coalesce(ref(s), F.lit("")), F.lit(")\n\n")),
            )
            .when(k == "embed", F.concat(ind(s), F.lit("[Embed: "), F.coalesce(ref(s), F.lit("")), F.lit("]\n\n")))
            .when(k == "link_preview",
                  F.concat(ind(s), F.lit("[Link Preview: "), F.coalesce(ref(s), F.lit("")), F.lit("]\n\n")))
            .when(
                k == "link_to_page",
                F.concat(ind(s), F.lit("[Link to page: "),
                         F.regexp_replace(F.coalesce(ref(s), F.lit("")), "-", ""), F.lit("]\n\n")),
            )
            .when(k == "image", F.concat(ind(s), F.lit("!["), txt(s), F.lit("]("),
                                         F.coalesce(ref(s), F.lit("")), F.lit(")\n\n")))
            .when(k == "video", F.concat(ind(s), F.lit("[Video: "), F.coalesce(ref(s), F.lit("")),
                                         cap_sfx, F.lit("]\n\n")))
            .when(
                k == "file",
                F.concat(ind(s), F.lit("[File: ["),
                         F.when(txt(s) != "", txt(s)).otherwise(F.lit("File")),
                         F.lit("]("), F.coalesce(ref(s), F.lit("")), F.lit(")"), cap_sfx,
                         F.lit("]\n\n")),
            )
            .when(k == "pdf", F.concat(ind(s), F.lit("[PDF]("), F.coalesce(ref(s), F.lit("")),
                                       F.lit(")"), cap_sfx, F.lit("]\n\n")))
            .when(k == "divider", F.concat(ind(s), F.lit("---\n\n")))
            .when(k == "equation", F.concat(ind(s), F.lit("$$\n"), txt(s), F.lit("\n$$\n\n")))
            .when(
                k == "synced_block",
                F.when(ref(s).isNotNull(),
                       F.concat(ind(s), F.lit("[Synced Block: Original ID "), ref(s), F.lit("]\n\n")))
                .otherwise(F.concat(ind(s), F.lit("[Original Synced Block]\n\n"))),
            )
            .when(
                k == "table",
                F.concat(
                    ind(s), F.lit("[Table: "),
                    F.element_at(F.split(F.coalesce(ref(s), F.lit("0,False,False")), ","), 1),
                    F.lit(" columns, Column Header: "),
                    F.coalesce(F.element_at(F.split(ref(s), ","), 2), F.lit("False")),
                    F.lit(", Row Header: "),
                    F.coalesce(F.element_at(F.split(ref(s), ","), 3), F.lit("False")),
                    F.lit("]\n\n"),
                ),
            )
            .when(k == "table_row",
                  F.concat(ind(s), F.lit("| "),
                           F.concat_ws(" | ", F.split(txt(s), r"\|")), F.lit(" |\n")))
            .otherwise(F.lit(""))
        )

    def fdate(v):
        # P7 date formatting with passthrough on parse failure
        # (to_markdown_parser.py:382-387); try_to_timestamp → never throws
        return F.coalesce(
            F.date_format(F.try_to_timestamp(v, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSX")), "yyyy-MM-dd HH:mm:ss"),
            F.date_format(F.try_to_timestamp(v, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSSX")), "yyyy-MM-dd HH:mm:ss"),
            F.date_format(F.try_to_timestamp(v, F.lit("yyyy-MM-dd'T'HH:mm:ssX")), "yyyy-MM-dd HH:mm:ss"),
            v,
        )

    def prop_md(s):
        k = s["kind"]
        name4 = lambda d: F.when(txt(s) != "", txt(s)).otherwise(F.lit(d))  # noqa: E731
        val = ref(s)
        have = val.isNotNull() & (val != "")
        line = lambda name, body: F.concat(F.lit("**"), name, F.lit("**: "), body, F.lit("\n"))  # noqa: E731
        return (
            F.when(k.isin("prop_title", "prop_rich_text") & (txt(s) != ""),
                   line(F.coalesce(ref(s), F.lit("Name")), txt(s)))
            .when((k == "prop_relation") & have,
                  line(name4("Relation"), F.concat(F.lit("[Related Page]("), val, F.lit(")"))))
            .when((k == "prop_url") & have,
                  line(name4("URL"), F.concat(F.lit("["), val, F.lit("]("), val, F.lit(")"))))
            .when((k == "prop_checkbox") & have,
                  line(name4("checkbox"), F.when(val == "true", F.lit("✅")).otherwise(F.lit("❌"))))
            .when((k == "prop_date") & have,
                  line(name4("date"),
                       F.when(F.size(F.split(val, "/")) == 2,
                              F.concat(fdate(F.element_at(F.split(val, "/"), 1)), F.lit(" - "),
                                       fdate(F.element_at(F.split(val, "/"), 2))))
                       .otherwise(fdate(val))))
            .when(k.isin("prop_created_time", "prop_last_edited_time") & have,
                  line(name4("time"), fdate(val)))
            .when(k.isin("prop_email", "prop_phone_number", "prop_number", "prop_formula") & have,
                  line(name4("value"), val))
            .when((k == "prop_select") & have, line(name4("select"), F.concat(F.lit("#"), val)))
            .when((k == "prop_multi_select") & have,
                  line(name4("multi_select"),
                       F.concat_ws(" ", F.transform(F.split(val, ","), lambda t: F.concat(F.lit("#"), t)))))
            .when((k == "prop_status") & have, line(name4("status"), val))
            .when((k == "prop_people") & have,
                  line(name4("people"), F.concat_ws(", ", F.split(val, ","))))
            .when((k == "prop_files") & have,
                  line(name4("files"),
                       F.concat_ws(", ", F.transform(
                           F.split(val, ","),
                           lambda u: F.concat(F.lit("["), F.element_at(F.split(u, "/"), -1),
                                              F.lit("]("), u, F.lit(")"))))))
            .when((k == "prop_rollup") & have,
                  line(name4("rollup"),
                       F.concat(F.element_at(F.split(val, ":", 2), 1), F.lit(": "),
                                F.coalesce(F.nullif(F.element_at(F.split(val, ":", 2), 2), F.lit("")),
                                           F.lit("N/A")))))
            .otherwise(F.lit(""))
        )

    # transform → one concat_ws: per-span fragments materialize once and
    # join once (an aggregate fold would re-copy the accumulator per span —
    # quadratic allocation that thrashes GC at high parallelism)
    prop_kinds = F.array(*[F.lit(k) for k in sorted(PROP_KINDS | EXCLUDED_PROP_KINDS)])
    props = F.concat_ws(
        "",
        F.transform(
            F.filter(spans_col, lambda s: F.array_contains(prop_kinds, s["kind"])),
            prop_md,
        ),
    )
    body = F.concat_ws(
        "",
        F.transform(
            F.filter(spans_col, lambda s: ~F.array_contains(prop_kinds, s["kind"])),
            block_md,
        ),
    )
    header = F.when(props != "", F.concat(F.lit("###Properties:\n"), props)).otherwise(F.lit(""))
    return F.concat(header, body)
