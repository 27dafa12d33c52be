"""Deterministic embeddings (P16 stand-in) + cosine similarity (Q1).

The reference calls OpenAI text-embedding-3-large (3072 dims,
content_chunker_and_embedder.py:136-140, config.yaml:45-47). The rebuild
replaces the network call with seeded FEATURE HASHING: each whitespace
token hashes to (index, sign) of a fixed-dim vector, counts accumulate,
then L2-normalize. Stable across runs/processes, discriminative enough
that cosine-threshold retrieval tests are meaningful.

Cosine over ARRAY<FLOAT> is provided twice:
  - ``cosine_col`` — native zip_with/aggregate expression (JVM, codegen) —
    the hot path for similarity joins;
  - ``cosine_py``  — numpy, for inside pandas UDFs.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_DIM = 64


@lru_cache(maxsize=1 << 20)
def _token_hash(token: str) -> int:
    """md5-derived 64-bit token hash, memoized: corpora have Zipfian
    vocabularies, so the md5 (the dominant per-token cost of the feature
    hashing) runs once per DISTINCT token per worker instead of once per
    occurrence (guide §4.5 — heavyweight work amortized across the task;
    the module-level cache survives task boundaries under worker reuse).
    Values are identical to the uncached form by construction."""
    return int.from_bytes(hashlib.md5(token.encode()).digest()[:8], "big")


def _token_slot(token: str, dim: int) -> tuple[int, float]:
    h = _token_hash(token)
    return h % dim, 1.0 if (h >> 63) & 1 else -1.0


def embed_text_py(text: str | None, dim: int = DEFAULT_DIM) -> list[float]:
    vec = np.zeros(dim, dtype=np.float64)
    for tok in (text or "").split():
        h = _token_hash(tok)
        vec[h % dim] += 1.0 if (h >> 63) & 1 else -1.0
    n = math.sqrt(float(vec @ vec))
    if n > 0:
        vec /= n
    return [float(x) for x in vec]


def embed_udf(dim: int = DEFAULT_DIM):
    """Iterator pandas UDF: STRING → ARRAY<FLOAT>[dim]."""

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def _embed(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            yield s.map(lambda t: embed_text_py(t, dim))

    return _embed


def cosine_py(a, b) -> float:
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    na, nb = np.linalg.norm(a), np.linalg.norm(b)
    if na == 0 or nb == 0:
        return 0.0
    return float(a @ b / (na * nb))


def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_col(a: Column, b: Column) -> Column:
    """Native cosine similarity over two ARRAY<FLOAT> columns (no Python)."""
    denom = norm_col(a) * norm_col(b)
    return F.when(denom > 0, dot_col(a, b) / denom).otherwise(F.lit(0.0))


def cosine_batched_udf():
    """Arrow-batched cosine over two ARRAY<FLOAT> columns — bit-identical
    to ``cosine_col`` but evaluated as numpy matrix work per batch instead
    of one interpreted higher-order fold per ROW (guide §4.2: hand whole
    batches to vectorized native libraries; HOF lambdas run outside
    codegen, so at millions of candidate pairs the interpreted fold is the
    dominant cost of a verify stage).

    Exactness: products/squares are float64 on float32-widened inputs,
    exactly like cosine_col's ``cast("double")``; the fold order is
    replicated with cumsum (sequential left-to-right prefix sums — numpy
    ``sum`` would use pairwise summation, which differs in ulps), and the
    ``denom > 0`` guard matches the native ``when/otherwise``. Pinned
    equal to cosine_col in tests/test_dedup_similarity.py."""

    @F.pandas_udf(T.DoubleType())
    def _cos(it: Iterator[pd.DataFrame]) -> Iterator[pd.Series]:
        for pdf in it:
            if len(pdf) == 0:
                yield pd.Series([], dtype="float64")
                continue
            a = np.vstack(pdf["a"].to_numpy()).astype(np.float64)
            b = np.vstack(pdf["b"].to_numpy()).astype(np.float64)
            # cumsum = sequential left fold (bit-identical to the native
            # aggregate); sum() would be pairwise and drift in ulps
            dot = np.cumsum(a * b, axis=1)[:, -1]
            na = np.sqrt(np.cumsum(a * a, axis=1)[:, -1])
            nb = np.sqrt(np.cumsum(b * b, axis=1)[:, -1])
            denom = na * nb
            with np.errstate(divide="ignore", invalid="ignore"):
                out = np.where(denom > 0, dot / denom, 0.0)
            yield pd.Series(out)

    def apply(a: Column, b: Column) -> Column:
        return _cos(F.struct(a.alias("a"), b.alias("b")))

    return apply


def cosine_pairs_arrow(
    df, a_col: str, b_col: str, out_col: str = "cosine"
):
    """mapInArrow twin of ``cosine_batched_udf`` for PAIR FRAMES: appends
    ``out_col`` = cosine(a_col, b_col) and drops the two vector columns.

    Same bit-exact arithmetic (float64 widening, sequential cumsum fold,
    denom>0 guard — pinned in tests), but the vectors are read straight
    from the Arrow list arrays' flat value buffers (one zero-copy
    reshape per batch) instead of materializing one numpy object per
    row the way Arrow→pandas conversion does — at ~10⁷ candidate pairs
    those per-row allocations dominate the verify stage. A null vector,
    or vectors of unequal length within or across the two columns, raise
    ``ValueError`` naming the column."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import types as ST

    fields = [f for f in df.schema.fields if f.name not in (a_col, b_col)]
    out_schema = ST.StructType(fields + [ST.StructField(out_col, ST.DoubleType())])
    keep = [f.name for f in fields]

    def matrix(b, col: str, dim: int | None = None):
        # flatten() skips null lists and reshape(n, -1) takes any divisible
        # total, so a null or ragged vector would silently shift every
        # later row's pairing — refuse instead
        arr = b.column(b.schema.get_field_index(col))
        lens = pc.list_value_length(arr).to_numpy(zero_copy_only=False)
        dim = lens[0] if dim is None else dim
        if arr.null_count or (lens != dim).any():
            raise ValueError(
                f"cosine_pairs_arrow: column {col!r} holds a null vector or "
                f"vectors of unequal length (lengths {sorted(set(lens.tolist()))})"
            )
        return np.asarray(arr.flatten()).astype(np.float64).reshape(len(arr), dim)

    def gen(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            a = matrix(b, a_col)
            bb = matrix(b, b_col, a.shape[1])
            dot = np.cumsum(a * bb, axis=1)[:, -1]
            na = np.sqrt(np.cumsum(a * a, axis=1)[:, -1])
            nb = np.sqrt(np.cumsum(bb * bb, axis=1)[:, -1])
            denom = na * nb
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(denom > 0, dot / denom, 0.0)
            cols = [b.column(b.schema.get_field_index(k)) for k in keep]
            yield pa.RecordBatch.from_arrays(
                cols + [pa.array(cos, type=pa.float64())], keep + [out_col]
            )

    return df.mapInArrow(gen, schema=out_schema)
