"""Triple extraction over the interleaved span sequence (SURVEY.md §2.8 #2).

Re-expresses the reference's per-encounter relation appends as a set-wise
batch transform:

  - child_page / child_database span  → (doc, CONTAINS, target)
      notion_provider.py:141-150 (database items), :219-225 (child blocks)
  - link_to_page span                 → (doc, REFERENCES, target)
      notion_provider.py:227-233
  - markdown links inside rich-text spans → (doc, REFERENCES, uuid|url,
      context = span plain text)       notion_provider.py:265-286
  - bookmark/embed/link_preview span  → (doc, REFERENCES, url)
      notion_provider.py:199-203,238-244
  - property spans (relation / rich_text / title / url) → REFERENCES with
      the reference's context prefixes  notion_provider.py:337-387

Every subj/obj goes through uuid canonicalization (notion_provider.py:169,
36-37). Runs as ``mapInPandas`` so the explode happens inside the Arrow
batch (no nested-array materialization), one pass over each partition —
the shape that holds at 10^12 documents because a task only ever sees its
own partition's spans.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from knowledge_nexus_spark.schema import (
    REL_CONTAINS,
    REL_REFERENCES,
    RICH_TEXT_KINDS,
    TRIPLES_SCHEMA,
)

MD_LINK_RE = re.compile(r"\[([^\]]*)\]\(([^)]+)\)")
_UUID_BODY = r"[a-f0-9]{8}-?[a-f0-9]{4}-?[a-f0-9]{4}-?[a-f0-9]{4}-?[a-f0-9]{12}"
NOTION_HREF_RE = re.compile(
    r"(?:https://www\.notion\.so)?/(?:[a-zA-Z0-9-]+/)?(?:[a-zA-Z0-9-]+-)?(" + _UUID_BODY + r")"
)
DASHED_UUID_RE = re.compile(r"^\w{8}-\w{4}-\w{4}-\w{4}-\w{12}$")

_RICH_KINDS = set(RICH_TEXT_KINDS)

TRIPLE_ARRAY_DDL = "array<struct<pred:string,obj:string,context:string,bm:boolean>>"


def norm_uuid(value: str) -> str:
    """Strip dashes iff the value is a dashed uuid (notion_provider.py:36-37)."""
    return value.replace("-", "") if DASHED_UUID_RE.match(value) else value


def href_uuid(href: str) -> str | None:
    """Undashed uuid from a Notion URL or None (notion_provider.py:18-33)."""
    m = NOTION_HREF_RE.match(href)
    return m.group(1).replace("-", "") if m else None


def _link_triples(doc: str, text: str, ctx_prefix: str | None, out: list) -> None:
    """Markdown links in rich text → REFERENCES triples.

    Context = the span's full plain text (the reference passes the whole
    rich-text array's plain concat as context, notion_provider.py:270-271),
    optionally behind a property prefix (notion_provider.py:370-380)."""
    links = MD_LINK_RE.findall(text)
    if not links:
        return
    plain = MD_LINK_RE.sub(r"\1", text)
    ctx = f"{ctx_prefix}\n{plain}" if ctx_prefix else plain
    for _anchor, href in links:
        uuid = href_uuid(href)
        obj = uuid if uuid else href
        out.append((doc, REL_REFERENCES, obj, ctx))


def extract_doc_triples(doc_id: str, spans: list | None) -> list[tuple]:
    """All (subj, pred, obj, context) emitted by one document, span order."""
    out: list[tuple] = []
    if spans is None or len(spans) == 0:
        return out
    doc = norm_uuid(doc_id)
    for s in spans:
        kind = s["kind"]
        text = s.get("text") or ""
        ref = s.get("media_ref")
        if kind in ("child_page", "child_database"):
            if ref:
                out.append((doc, REL_CONTAINS, norm_uuid(ref), None))
        elif kind == "link_to_page":
            if ref:
                out.append((doc, REL_REFERENCES, norm_uuid(ref), None))
        elif kind in ("bookmark", "embed", "link_preview"):
            if ref:
                out.append((doc, REL_REFERENCES, ref, None))
        elif kind in _RICH_KINDS:
            _link_triples(doc, text, None, out)
        elif kind == "rich_runs":
            # P5 annotated runs: links come from run hrefs, context is the
            # annotation-free plain concat (notion_provider.py:51-52 passes
            # the plain rich-text as relation context)
            import json

            from knowledge_nexus_spark.functions.render import runs_plain_py

            try:
                runs = json.loads(text) if text else []
            except ValueError:
                runs = []
            plain = runs_plain_py(runs)
            for rt in runs:
                href = rt.get("href")
                if not href:
                    continue
                uuid = href_uuid(href)
                out.append((doc, REL_REFERENCES, uuid if uuid else href, plain))
        elif kind == "prop_relation":
            if ref:
                out.append((doc, REL_REFERENCES, norm_uuid(ref),
                            f"Relation property **{text or 'Relation'}**"))
        elif kind == "prop_url":
            if ref:
                out.append((doc, REL_REFERENCES, ref,
                            f"Url property **{text or 'URL'}**"))
        elif kind == "prop_rich_text":
            _link_triples(doc, text, f"Text property **{(ref or 'Name')}**:", out)
        elif kind == "prop_title":
            _link_triples(doc, text, f"Title property **{(ref or 'Name')}**:", out)
    return out


def extract_triples(documents: DataFrame) -> DataFrame:
    """documents(doc_id, spans, ...) → triples(subj, pred, obj, context).

    Only content-bearing documents should be passed in (the archived /
    in-trash gate is a cheap native filter applied by the caller BEFORE
    this opaque UDF — Catalyst cannot push through it)."""

    cols = ["subj", "pred", "obj", "context"]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                rows.extend(extract_doc_triples(doc_id, spans))
            yield pd.DataFrame(rows, columns=cols) if rows else pd.DataFrame(
                {c: pd.Series(dtype=object) for c in cols}
            )

    return documents.select("doc_id", "spans").mapInPandas(gen, schema=TRIPLES_SCHEMA)


def _run_triples_arr_expr(runs_col):
    """REFERENCES triples of one rich_runs span from an ALREADY-PARSED runs
    array: objects from hrefs (uuid-normalized), context = plain concat."""
    from knowledge_nexus_spark.functions.render import RUNS_DDL

    href_uuid_re = (
        r"^(?:https://www\.notion\.so)?/(?:[a-zA-Z0-9-]+/)?(?:[a-zA-Z0-9-]+-)?(" + _UUID_BODY + r")"
    )
    runs = F.coalesce(runs_col, F.expr(f"CAST(array() AS {RUNS_DDL})"))
    plain = F.concat_ws("", F.transform(runs, lambda r: F.coalesce(r["plain_text"], F.lit(""))))

    def link_obj(href):
        uuid = F.regexp_extract(href, href_uuid_re, 1)
        return F.when(uuid != "", F.regexp_replace(uuid, "-", "")).otherwise(href)

    linked = F.filter(runs, lambda r: r["href"].isNotNull() & (r["href"] != ""))
    return F.transform(
        linked,
        lambda r: F.struct(
            F.lit("REFERENCES").alias("pred"),
            link_obj(r["href"]).alias("obj"),
            plain.alias("context"),
            (F.regexp_extract(r["href"], href_uuid_re, 1) == "").alias("bm"),
        ),
    )


def _run_triples_expr(text):
    """rich_runs triples from the raw JSON text (parses inline — the fused
    pipeline passes pre-parsed runs via ``span_triples_expr(runs=...)``)."""
    from knowledge_nexus_spark.functions.render import RUNS_DDL

    return _run_triples_arr_expr(F.from_json(text, RUNS_DDL))


def span_triples_expr(kind, text, ref, runs=None):
    """ARRAY<STRUCT<pred,obj,context,bm>> emitted by ONE span — pure native
    CASE expression over (kind, text, media_ref) columns, shared by the
    exploded extractor and the single-pass per-document flattened form.

    ``bm`` marks objects that also synthesize a Bookmark node (URLISH /
    prop_url refs, non-uuid rich hrefs — the reference's add-bookmark call
    sites). Carrying the flag here lets the single-pass pipeline derive
    bookmark urls from the SAME extraction pass instead of re-running the
    span regexes a second time; public extractors drop the column.

    ``runs``: optional pre-parsed runs column for rich_runs spans (see
    render.spans_with_runs) — when given, no from_json runs here."""
    md_link = r"\[([^\]]*)\]\(([^)]+)\)"
    href_uuid_re = (
        r"^(?:https://www\.notion\.so)?/(?:[a-zA-Z0-9-]+/)?(?:[a-zA-Z0-9-]+-)?(" + _UUID_BODY + r")"
    )
    dashed = r"^\w{8}-\w{4}-\w{4}-\w{4}-\w{12}$"

    def norm(c):
        return F.when(c.rlike(dashed), F.regexp_replace(c, "-", "")).otherwise(c)

    def link_obj(href):
        uuid = F.regexp_extract(href, href_uuid_re, 1)
        return F.when(uuid != "", F.regexp_replace(uuid, "-", "")).otherwise(href)

    def tri(pred, obj, ctx, bm=False):
        bm_col = bm if not isinstance(bm, bool) else F.lit(bm)
        return F.struct(
            F.lit(pred).alias("pred"), obj.alias("obj"), ctx.alias("context"),
            bm_col.alias("bm"),
        )

    no_ctx = F.lit(None).cast("string")
    hrefs = F.regexp_extract_all(text, F.lit(md_link), 2)
    plain = F.regexp_replace(text, md_link, "$1")

    def rich_links(ctx):
        return F.transform(
            hrefs,
            lambda h: tri("REFERENCES", link_obj(h), ctx,
                          F.regexp_extract(h, href_uuid_re, 1) == ""),
        )

    empty = F.array().cast(TRIPLE_ARRAY_DDL)
    return (
        F.when(
            kind.isin("child_page", "child_database") & ref.isNotNull(),
            F.array(tri("CONTAINS", norm(ref), no_ctx)),
        )
        .when(
            (kind == "link_to_page") & ref.isNotNull(),
            F.array(tri("REFERENCES", norm(ref), no_ctx)),
        )
        .when(
            kind.isin("bookmark", "embed", "link_preview") & ref.isNotNull(),
            F.array(tri("REFERENCES", ref, no_ctx, True)),
        )
        .when(kind.isin(*RICH_TEXT_KINDS), rich_links(plain))
        .when(
            kind == "rich_runs",
            _run_triples_arr_expr(runs) if runs is not None else _run_triples_expr(text),
        )
        .when(
            (kind == "prop_relation") & ref.isNotNull(),
            F.array(
                tri(
                    "REFERENCES",
                    norm(ref),
                    F.concat(
                        F.lit("Relation property **"),
                        F.coalesce(F.nullif(text, F.lit("")), F.lit("Relation")),
                        F.lit("**"),
                    ),
                )
            ),
        )
        .when(
            (kind == "prop_url") & ref.isNotNull(),
            F.array(
                tri(
                    "REFERENCES",
                    ref,
                    F.concat(
                        F.lit("Url property **"),
                        F.coalesce(F.nullif(text, F.lit("")), F.lit("URL")),
                        F.lit("**"),
                    ),
                    True,
                )
            ),
        )
        .when(
            kind == "prop_rich_text",
            rich_links(
                F.concat(
                    F.lit("Text property **"),
                    F.coalesce(ref, F.lit("Name")),
                    F.lit("**:\n"),
                    plain,
                )
            ),
        )
        .when(
            kind == "prop_title",
            rich_links(
                F.concat(
                    F.lit("Title property **"),
                    F.coalesce(ref, F.lit("Name")),
                    F.lit("**:\n"),
                    plain,
                )
            ),
        )
        .otherwise(empty)
    )


def doc_triples_expr(spans_col, runs_parsed: bool = False):
    """All triples of a document as one flattened array — the single-pass
    form: no span explode, usable inside the same projection that renders
    content, so the wide spans column is scanned exactly once.

    ``runs_parsed=True``: spans carry a typed ``runs`` field (see
    render.spans_with_runs); rich_runs triples consume it instead of
    re-parsing the JSON text."""
    return F.flatten(
        F.transform(
            spans_col,
            lambda s: span_triples_expr(
                s["kind"], F.coalesce(s["text"], F.lit("")), s["media_ref"],
                runs=s["runs"] if runs_parsed else None,
            ),
        )
    )


def normalize_uuid_col(c):
    dashed = r"^\w{8}-\w{4}-\w{4}-\w{4}-\w{12}$"
    return F.when(c.rlike(dashed), F.regexp_replace(c, "-", "")).otherwise(c)


def extract_triples_native(documents: DataFrame) -> DataFrame:
    """Fully JVM-side triple extraction — the production hot path.

    Same semantics as ``extract_triples`` (the Arrow/pandas variant, kept
    as the readable spec and cross-checked in tests), but expressed with
    posexplode + native regexp/when expressions so the whole extraction
    stays inside whole-stage codegen: no Python worker, no Arrow transfer.

    Layout: one explode to span rows, one projection computing an ARRAY of
    candidate triples per span (rich-text spans may hold several links),
    one final explode. Zero shuffles."""
    s = documents.select(
        normalize_uuid_col(F.col("doc_id")).alias("subj"), F.explode("spans").alias("sp")
    ).select(
        "subj",
        F.col("sp.kind").alias("kind"),
        F.coalesce(F.col("sp.text"), F.lit("")).alias("text"),
        F.col("sp.media_ref").alias("ref"),
    )
    tri_array = span_triples_expr(F.col("kind"), F.col("text"), F.col("ref"))
    return (
        s.select("subj", F.explode(tri_array).alias("t"))
        .select("subj", "t.pred", "t.obj", "t.context")
    )


def bookmark_nodes(urls: DataFrame) -> DataFrame:
    """Bookmark nodes for external-URL objects (notion_provider.py:288-296)
    from a one-column ``id`` URL frame (the ``bm``-flagged triple objects,
    see ``span_triples_expr``).

    The reference scrapes (title, description) per URL (web_scraper.py:9-15);
    here both are synthesized deterministically from the URL itself, JVM-side.
    One node per distinct URL (first-encounter-wins in the reference's dict —
    identical because our synthesis is a pure function of the URL)."""
    return urls.select(
        "id",
        F.concat(F.lit("Web "), F.substring(F.md5("id"), 1, 8)).alias("title"),
        F.lit("Bookmark").alias("type"),
        F.col("id").alias("url"),
        F.concat(F.lit("Meta description for "), F.col("id")).alias("content"),
        F.lit("Web").alias("source"),
        F.lit(None).cast("string").alias("last_edited_time"),
    )
