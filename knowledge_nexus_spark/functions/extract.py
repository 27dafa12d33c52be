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
36-37). The rules are ONE native CASE expression per span
(``span_triples_expr``), flattened per document (``doc_triples_expr``)
inside pipeline.fused_docs_projection — the library's only extraction:
whole-stage codegen, no Python worker, no Arrow transfer. ``oracle.py``
is the independent Python spec it is tested against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from knowledge_nexus_spark.functions.ids import (
    MARKDOWN_LINK_PATTERN,
    NOTION_HREF_PATTERN,
    normalize_uuid,
)
from knowledge_nexus_spark.schema import RICH_TEXT_KINDS

TRIPLE_ARRAY_DDL = "array<struct<pred:string,obj:string,context:string,bm:boolean>>"


def _link_obj(href):
    """Undashed uuid when the href is a Notion page URL, else the href."""
    uuid = F.regexp_extract(href, NOTION_HREF_PATTERN, 1)
    return F.when(uuid != "", F.regexp_replace(uuid, "-", "")).otherwise(href)


def _run_triples_arr_expr(runs_col):
    """REFERENCES triples of one rich_runs span from an ALREADY-PARSED runs
    array: objects from hrefs (uuid-normalized), context = plain concat."""
    from knowledge_nexus_spark.functions.render import RUNS_DDL

    runs = F.coalesce(runs_col, F.expr(f"CAST(array() AS {RUNS_DDL})"))
    plain = F.concat_ws("", F.transform(runs, lambda r: F.coalesce(r["plain_text"], F.lit(""))))
    linked = F.filter(runs, lambda r: r["href"].isNotNull() & (r["href"] != ""))
    return F.transform(
        linked,
        lambda r: F.struct(
            F.lit("REFERENCES").alias("pred"),
            _link_obj(r["href"]).alias("obj"),
            plain.alias("context"),
            (F.regexp_extract(r["href"], NOTION_HREF_PATTERN, 1) == "").alias("bm"),
        ),
    )


def span_triples_expr(kind, text, ref, runs):
    """ARRAY<STRUCT<pred,obj,context,bm>> emitted by ONE span — pure native
    CASE expression over (kind, text, media_ref) columns.

    ``bm`` marks objects that also synthesize a Bookmark node (URLISH /
    prop_url refs, non-uuid rich hrefs — the reference's add-bookmark call
    sites). Carrying the flag here lets the single-pass pipeline derive
    bookmark urls from the SAME extraction pass instead of re-running the
    span regexes a second time; the triples themselves drop the column.

    ``runs``: the span's pre-parsed runs column for rich_runs spans (see
    render.spans_with_runs) — no from_json runs here."""

    def tri(pred, obj, ctx, bm=False):
        bm_col = bm if not isinstance(bm, bool) else F.lit(bm)
        return F.struct(
            F.lit(pred).alias("pred"), obj.alias("obj"), ctx.alias("context"),
            bm_col.alias("bm"),
        )

    no_ctx = F.lit(None).cast("string")
    hrefs = F.regexp_extract_all(text, F.lit(MARKDOWN_LINK_PATTERN), 2)
    plain = F.regexp_replace(text, MARKDOWN_LINK_PATTERN, "$1")

    def rich_links(ctx):
        return F.transform(
            hrefs,
            lambda h: tri("REFERENCES", _link_obj(h), ctx,
                          F.regexp_extract(h, NOTION_HREF_PATTERN, 1) == ""),
        )

    empty = F.array().cast(TRIPLE_ARRAY_DDL)
    return (
        F.when(
            kind.isin("child_page", "child_database") & ref.isNotNull(),
            F.array(tri("CONTAINS", normalize_uuid(ref), no_ctx)),
        )
        .when(
            (kind == "link_to_page") & ref.isNotNull(),
            F.array(tri("REFERENCES", normalize_uuid(ref), no_ctx)),
        )
        .when(
            kind.isin("bookmark", "embed", "link_preview") & ref.isNotNull(),
            F.array(tri("REFERENCES", ref, no_ctx, True)),
        )
        .when(kind.isin(*RICH_TEXT_KINDS), rich_links(plain))
        .when(kind == "rich_runs", _run_triples_arr_expr(runs))
        .when(
            (kind == "prop_relation") & ref.isNotNull(),
            F.array(
                tri(
                    "REFERENCES",
                    normalize_uuid(ref),
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


def doc_triples_expr(spans_col):
    """All triples of a document as one flattened array — the single-pass
    form: no span explode, usable inside the same projection that renders
    content, so the wide spans column is scanned exactly once. The spans
    carry a typed ``runs`` field (see render.spans_with_runs); rich_runs
    triples consume it instead of re-parsing the JSON text."""
    return F.flatten(
        F.transform(
            spans_col,
            lambda s: span_triples_expr(
                s["kind"], F.coalesce(s["text"], F.lit("")), s["media_ref"], s["runs"]
            ),
        )
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
