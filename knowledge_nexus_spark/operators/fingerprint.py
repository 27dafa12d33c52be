"""Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03)
— the rolling-hash fingerprinting stage of a training-data pipeline,
expressed entirely in native DataFrame ops so a SQL oracle reproduces
every fingerprint bit-for-bit.

Algorithm (local winnowing, guarantee-preserving):
  1. tokens   = lower(trim(text)) split on \\s+            (corpus tokenizer)
  2. shingles = every k consecutive tokens, joined by ' '  (k-grams)
  3. h_i      = md5_hash64(shingle_i)                      (dual-engine hash,
                operators/dedup.md5_hash64)
  4. windows  = every w consecutive hashes; fingerprint = min(h) per window
  5. fingerprints(doc) = DISTINCT window minima

Guarantees (the reason winnowing beats "every n-th hash" sampling):
  * density — expected fingerprints per hash position is 2/(w+1), so the
    selected set is ~2/(w+1) of the shingle count regardless of content;
  * coverage — any two documents sharing a token run of length >= w+k-1
    share at least one fingerprint (every length-w window of a shared run
    selects the same minimum in both documents).

Scale shape (10^12 docs): the ENTIRE operator is a per-row array
program — tokenise, shingle-hash, window-min, and distinct are nested
array expressions evaluated inside one whole-stage-codegen pipeline,
so `fingerprint_summary` runs with ZERO exchanges and zero Python
(winnowing is a per-document sequential computation; the right
parallelism is across documents, which a projection gives for free).
The arrays are materialised through stacked Projects (each intermediate
column is referenced more than once, so CollapseProject cannot inline
the expensive transform into per-element lambda re-evaluation).
Reference parity: the reference engine has no fingerprinting stage; this
is part of the driver-mandated training-data extension surface
(SURVEY.md extension table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from knowledge_nexus_spark.operators.dedup import md5_hash64

K_SHINGLE = 3  # tokens per shingle (k-gram size)
W_WINDOW = 4  # hashes per winnowing window
FP_CHECK_MOD = 1_000_003  # per-doc checksum modulus (keeps sums overflow-free)


def _fps_array(
    df: DataFrame, id_col: str, text_col: str, k: int, w: int
) -> DataFrame:
    """(id_col, _fps ARRAY<BIGINT>) — the distinct winnowing fingerprints
    of each document as a per-row array, computed with zero exchanges.

    Three stacked Projects materialise tokens → shingle hashes → window
    minima. Each intermediate array column is referenced at least twice
    by the next stage (in a size() bound AND inside the lambda), which
    blocks CollapseProject from inlining the expensive transform into the
    lambda body — where it would be re-evaluated once per element.
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    # The sub-k guard plans as Filter(size(split(...)) >= k) BELOW the
    # token Project — i.e. the tokenizer is evaluated twice per kept row
    # (verified: predicate pushdown re-inlines the alias either way this
    # is phrased). Accepted deliberately: the extra pass is one split()
    # over text, ~1-2% of the per-row cost next to the md5-per-shingle
    # transform it protects, and it PRUNES sub-k rows before that
    # dominant stage. Every above-the-Project formulation is worse: a
    # trailing filter on a computed array column gets substituted into a
    # Filter containing the whole nested program (the same
    # InferFiltersFromGenerate/pushdown trap documented on
    # winnow_fingerprints' explode_outer).
    staged = df.filter(F.size(toks) >= k).select(
        F.col(id_col), toks.alias("_tk")
    )
    # shingle hashes: h[i] = md5_hash64(join(tk[i..i+k-1]))
    n_sh = F.size(F.col("_tk")) - F.lit(k - 1)
    hashes = F.transform(
        F.sequence(F.lit(0), n_sh - 1),
        lambda i: md5_hash64(F.array_join(F.slice(F.col("_tk"), i + 1, k), " ")),
    )
    staged = staged.select(F.col(id_col), hashes.alias("_hs"))
    # window minima over every w-hash window start; slice truncates at the
    # array edge, which is exactly the single-window semantics for docs
    # with n_sh < w (one window at position 0 covering all hashes).
    n_pos = F.greatest(F.size(F.col("_hs")) - w, F.lit(0))
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), n_pos),
            lambda i: F.array_min(F.slice(F.col("_hs"), i + 1, w)),
        )
    )
    return staged.select(F.col(id_col), fps.alias("_fps"))


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = K_SHINGLE,
    w: int = W_WINDOW,
) -> DataFrame:
    """(id_col, fp BIGINT) — the DISTINCT winnowing fingerprints per doc.

    Documents with fewer than ``k`` tokens have no shingles and are
    excluded (no fingerprint is defined). Documents with fewer than
    ``w`` shingles yield exactly one fingerprint: the minimum over all
    their hashes (the single truncated window at position 0).

    explode_outer, NOT explode: for a plain explode, Catalyst's
    InferFiltersFromGenerate adds ``size(_fps) > 0`` below the Generate
    and predicate pushdown then inlines the ENTIRE nested array program
    into that Filter — where the window-min lambda re-evaluates the full
    shingle-hash transform once per position (O(n_sh²·|text|) per doc;
    a 2 000-token doc takes minutes instead of milliseconds).
    explode_outer admits no such inference, and it is semantics-neutral
    here: ``_fps`` is never empty (the sub-``k`` filter already ran, and
    sequence(0, max(n_sh-w, 0)) always yields ≥ 1 position).
    """
    return _fps_array(df, id_col, text_col, k, w).select(
        id_col, F.explode_outer("_fps").alias("fp")
    )


def fingerprint_summary(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = K_SHINGLE,
    w: int = W_WINDOW,
) -> DataFrame:
    """Per-document fingerprint digest:
    (id, n_fps BIGINT, fp_min BIGINT, fp_max BIGINT, fp_check BIGINT)
    where fp_check = sum(fp mod FP_CHECK_MOD) — an order-independent
    checksum of the fingerprint set that stays well inside BIGINT.

    A pure projection over the per-row fingerprint array — zero
    exchanges, zero Python, no window, no aggregation operator at all.
    """
    fps = F.col("_fps")
    return _fps_array(df, id_col, text_col, k, w).select(
        id_col,
        F.size(fps).cast("long").alias("n_fps"),
        F.array_min(fps).alias("fp_min"),
        F.array_max(fps).alias("fp_max"),
        F.aggregate(
            fps,
            F.lit(0).cast("long"),
            lambda acc, x: acc + (x % FP_CHECK_MOD),
        ).alias("fp_check"),
    )


def fingerprint_summary_arrow(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = K_SHINGLE,
    w: int = W_WINDOW,
) -> DataFrame:
    """``fingerprint_summary`` as ONE Arrow stage: hashlib md5 + numpy
    sliding-window minima per batch instead of the nested interpreted
    array-transform program (array HOF lambdas run outside codegen, so
    the native form pays interpreter dispatch per shingle — measured
    2.1× slower than this at 50k docs; guide §4.2). Values are exact
    integers derived from the same md5 → first-15-hex-digits mapping,
    so the result is bit-identical (pinned by tests/test_fingerprint.py
    equality test and the text_fingerprint hash gate).

    Tokenizer parity with the native form, precisely: trim = ASCII
    spaces only (F.trim), then lower, then re.split(r"\\s+") — Python's
    bare str.split() would silently drop the leading empty token a
    tab-leading document produces. ``re.ASCII``: Java's ``\\s`` is the six
    ASCII whitespace characters; Python's Unicode ``\\s`` also splits on
    ``\\xa0``, ``\\x1c``-``\\x1f``, ``\\x85`` and ``\\u2028``."""
    import re

    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as ST

    id_field = df.schema[id_col]
    out_schema = ST.StructType(
        [
            ST.StructField(id_col, id_field.dataType, id_field.nullable),
            ST.StructField("n_fps", ST.LongType()),
            ST.StructField("fp_min", ST.LongType()),
            ST.StructField("fp_max", ST.LongType()),
            ST.StructField("fp_check", ST.LongType()),
        ]
    )
    def gen(batches):
        import hashlib

        windows = np.lib.stride_tricks.sliding_window_view
        for b in batches:
            ids = b.column(b.schema.get_field_index(id_col)).to_pylist()
            texts = b.column(b.schema.get_field_index(text_col)).to_pylist()
            o_id, o_n, o_mn, o_mx, o_ck = [], [], [], [], []
            for did, tx in zip(ids, texts):
                toks = re.split(r"\s+", (tx or "").strip(" ").lower(), flags=re.ASCII)
                if len(toks) < k:
                    continue
                n_sh = len(toks) - k + 1
                hs = np.fromiter(
                    (
                        int(
                            hashlib.md5(
                                " ".join(toks[i : i + k]).encode()
                            ).hexdigest()[:15],
                            16,
                        )
                        for i in range(n_sh)
                    ),
                    dtype=np.int64,
                    count=n_sh,
                )
                if n_sh <= w:
                    fps = hs.min(keepdims=True)
                else:
                    fps = np.unique(windows(hs, w).min(axis=1))
                o_id.append(did)
                o_n.append(len(fps))
                o_mn.append(int(fps.min()))
                o_mx.append(int(fps.max()))
                o_ck.append(int((fps % FP_CHECK_MOD).sum()))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(o_id, b.schema.field(id_col).type),
                    pa.array(o_n, pa.int64()),
                    pa.array(o_mn, pa.int64()),
                    pa.array(o_mx, pa.int64()),
                    pa.array(o_ck, pa.int64()),
                ],
                [id_col, "n_fps", "fp_min", "fp_max", "fp_check"],
            )

    return df.select(id_col, text_col).mapInArrow(gen, schema=out_schema)


def fingerprint_summary_sql(
    table: str,
    id_col: str,
    text_col: str,
    k: int = K_SHINGLE,
    w: int = W_WINDOW,
) -> str:
    """DuckDB oracle for ``fingerprint_summary`` — independent derivation
    of the same tokenizer, hash, window min, and checksum."""
    return f"""
    WITH toks AS (
      SELECT {id_col},
             regexp_split_to_array(lower(trim({text_col})), '\\s+') AS tk
      FROM {table}),
    sh AS (
      SELECT {id_col}, tk, len(tk) - {k - 1} AS n_sh,
             unnest(range(0, len(tk) - {k - 1})) AS pos
      FROM toks WHERE len(tk) >= {k}),
    hashed AS (
      SELECT {id_col}, n_sh, pos,
             CAST(('0x' || substr(md5(
               array_to_string(tk[pos + 1 : pos + {k}], ' ')), 1, 15))
               AS BIGINT) AS h
      FROM sh),
    wm AS (
      SELECT {id_col}, pos, n_sh,
             min(h) OVER (PARTITION BY {id_col} ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS fp
      FROM hashed),
    fps AS (
      SELECT DISTINCT {id_col}, fp FROM wm
      WHERE pos <= greatest(n_sh - {w}, 0))
    SELECT {id_col},
           CAST(count(*) AS BIGINT) AS n_fps,
           min(fp) AS fp_min,
           max(fp) AS fp_max,
           CAST(sum(fp % {FP_CHECK_MOD}) AS BIGINT) AS fp_check
    FROM fps GROUP BY {id_col}
    """
