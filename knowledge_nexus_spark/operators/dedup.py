"""Deduplication operators for large-scale corpora (driver-mandated
training-data extensions; the reference's analogues are the id-keyed dict
dedup and URL-identity bookmark merge, SURVEY.md A5/A8/G3).

All operators take (df, id_col, text_col) and are built on native
expressions where possible:

  exact_dedup          — hash-groupBy, one shuffle on md5(text)
  ngram_jaccard_pairs  — shingle inverted index self-join (exact Jaccard)
  minhash_lsh_pairs    — Spark ML MinHashLSH banding (approximate, the
                         scale path: candidates only, never O(n²))
  simhash / simhash_pairs — 48-bit simhash, banded candidate join +
                         Hamming verify, fully JVM-side
  embedding_neardup_pairs — cosine near-dup via random-hyperplane LSH
                         buckets + exact re-rank

Scale notes: every pair generator blocks first (LSH band / shingle / salt
bucket) so the self-join key is never the full corpus; exact verification
runs only on candidates. At 100 TB the banding parameters are the knobs —
they bound both recall and the hottest bucket's size.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# --- edit distance -------------------------------------------------------


def edit_distance_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    len_col: str | None = None,
    prefix: int = 60,
    len_tol: int = 10,
    max_dist: int = 2,
) -> DataFrame:
    """Fuzzy near-dup pairs (a_id, b_id): length within ``len_tol`` AND
    Levenshtein over the first ``prefix`` chars ≤ ``max_dist``.

    Blocking is LOSSLESS by construction: with bucket width len_tol + 1
    on the length, any qualifying pair sits in the same or adjacent
    buckets, so exploding one side into {b-1, b, b+1} and equi-joining on
    the bucket covers every pair the predicate admits — candidates drop
    from O(n²) to per-band, and the quadratic-per-pair Levenshtein runs
    only on survivors. ``len_col`` defaults to length(text_col)."""
    length = (F.col(len_col) if len_col else F.length(F.col(text_col))).cast("long")
    w = len_tol + 1
    d = df.select(
        F.col(id_col).alias("_id"),
        F.substring(text_col, 1, prefix).alias("_p"),
        length.alias("_len"),
        F.floor(length / w).alias("_bkt"),
    )
    left = d.select(
        F.col("_id").alias("a_id"),
        F.col("_p").alias("a_p"),
        F.col("_len").alias("a_len"),
        F.explode(
            F.array(F.col("_bkt") - 1, F.col("_bkt"), F.col("_bkt") + 1)
        ).alias("_bkt"),
    )
    return (
        left.join(d, "_bkt")
        .filter(
            (F.col("a_id") < F.col("_id"))
            & (F.abs(F.col("a_len") - F.col("_len")) <= len_tol)
            & (F.levenshtein("a_p", "_p") <= max_dist)
        )
        .select("a_id", F.col("_id").alias("b_id"))
    )


# --- exact ---------------------------------------------------------------


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the min-id representative per exact text hash."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.min(F.col(id_col)).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


# --- token shingles --------------------------------------------------------


def _token_shingles(text_col: str, n: int):
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    if n == 1:
        return F.array_distinct(toks)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    )


def _jaccard_prefix_candidates(sh: DataFrame, threshold: float) -> DataFrame:
    """Candidate (id_a, id_b) pairs from the prefix-filtered inverted index
    over a (id, sh ARRAY, sh_size) frame. Lossless for Jaccard ≥ threshold:
    two sets with J ≥ t must share a shingle among each one's
    ``|A| − ceil(t·|A|) + 1`` globally-rarest shingles (all-pairs prefix
    filter), so indexing only those prefixes misses no true pair while
    keeping corpus-universal shingles out of the self-join."""
    from pyspark.sql import Window

    tok = sh.select("id", "sh_size", F.explode("sh").alias("shingle"))
    freq = tok.groupBy("shingle").agg(F.count(F.lit(1)).alias("doc_freq"))

    prefix_len = (
        F.col("sh_size") - F.ceil(F.lit(threshold) * F.col("sh_size")) + 1
    ).cast("int")
    w = Window.partitionBy("id").orderBy("doc_freq", "shingle")
    prefix = (
        tok.join(freq, "shingle")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= prefix_len)
        .select("id", "shingle")
    )

    return (
        prefix.alias("a")
        .join(prefix.alias("b"), "shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Exact n-gram Jaccard ≥ threshold via a PREFIX-FILTERED inverted
    index (Bayardo et al. all-pairs / Chaudhuri et al. SSJoin):

    1. global shingle document frequency (one groupBy);
    2. order each doc's shingles rarest-first and index only the first
       ``|A| − ceil(t·|A|) + 1`` of them — any pair with J ≥ t provably
       shares an indexed prefix shingle, so the filter is lossless;
    3. candidate pairs from the prefix inverted index;
    4. exact verify via native array_intersect on the full shingle sets.

    The prefix ordering puts corpus-universal shingles LAST, so a stop
    word like "the" never enters the index for any doc with more than a
    handful of shingles — the hot-shingle quadratic bucket that a plain
    inverted-index self-join suffers is gone while the result stays
    exactly the set of pairs with true Jaccard ≥ threshold."""
    sh = df.select(
        F.col(id_col).alias("id"), _token_shingles(text_col, n).alias("sh")
    ).withColumn("sh_size", F.size("sh"))

    cand = _jaccard_prefix_candidates(sh, threshold)

    fa = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"),
                   F.col("sh_size").alias("size_a"))
    fb = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"),
                   F.col("sh_size").alias("size_b"))
    return (
        cand.join(fa, "id_a")
        .join(fb, "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_jaccard_distance: float = 0.5,
    num_hash_tables: int = 8,
    num_features: int = 1 << 18,
) -> DataFrame:
    """Approximate Jaccard near-dup pairs: shingle → MinHash band → bucket
    join (Spark ML). Returns (id_a, id_b, jaccard_dist ≤ max)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    feat = df.select(
        F.col(id_col).alias("id"), _token_shingles(text_col, n).alias("sh")
    ).filter(F.size("sh") > 0)
    tf = HashingTF(inputCol="sh", outputCol="features", numFeatures=num_features, binary=True)
    v = tf.transform(feat)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=42)
    model = lsh.fit(v)
    pairs = model.approxSimilarityJoin(v, v, max_jaccard_distance, distCol="jaccard_dist")
    return (
        pairs.filter(F.col("datasetA.id") < F.col("datasetB.id"))
        .select(
            F.col("datasetA.id").alias("id_a"),
            F.col("datasetB.id").alias("id_b"),
            "jaccard_dist",
        )
    )


def md5_hash64(col):
    """Deterministic 60-bit token hash computable in ANY SQL engine
    (md5 hex → int): the dual-engine replacement for xxhash64 wherever a
    DuckDB/ANSI oracle must reproduce the signature bit-for-bit.
    15 hex chars = 60 bits < 2^63, so the value is always non-negative."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def minhash_pairs_native(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 1,
    threshold: float = 0.5,
    num_tables: int = 8,
) -> DataFrame:
    """MinHash-banded near-dup pairs with a fully DETERMINISTIC dual-engine
    hash (md5-derived — see ``md5_hash64``), unlike the Spark ML
    ``minhash_lsh_pairs`` whose hash family has no SQL analogue.

    One hash table per band: candidates are pairs agreeing on ANY band's
    min-hash; exact Jaccard verify on candidates only. The candidate set —
    hence the result — is a pure function of the corpus, so a DuckDB oracle
    reproduces it exactly. Scale shape: never all-pairs, the band join is
    the blocking."""
    sh = df.select(
        F.col(id_col).alias("id"), _token_shingles(text_col, n).alias("sh")
    ).withColumn("sh_size", F.size("sh"))

    tok = sh.select("id", F.explode("sh").alias("shingle"))
    sigs = tok.groupBy("id").agg(*[
        F.min(
            md5_hash64(F.concat_ws(":", F.lit(str(i)), F.col("shingle")))
        ).alias(f"_k{i}")
        for i in range(num_tables)
    ])
    banded = sigs.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("band"), F.col(f"_k{i}").alias("key"))
                for i in range(num_tables)
            ])
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))

    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )

    fa = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"),
                   F.col("sh_size").alias("size_a"))
    fb = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"),
                   F.col("sh_size").alias("size_b"))
    return (
        cand.join(fa, "id_a")
        .join(fb, "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# --- simhash ---------------------------------------------------------------

SIMHASH_BITS = 48  # keep the value positive in a signed 64-bit long


def add_simhash(
    df: DataFrame,
    text_col: str,
    out_col: str = "sig",
    bits: int = SIMHASH_BITS,
    token_hash=F.xxhash64,
) -> DataFrame:
    """SimHash, all native: per-token hash → per-bit ±1 votes folded
    with one array aggregate (bit shifts unrolled as literal ints) →
    sign bits packed into a LONG. Two selects so the vote vector is
    materialized once, not re-evaluated per bit.

    ``token_hash`` defaults to xxhash64 (fastest); pass ``md5_hash64`` for
    the dual-engine variant a DuckDB oracle can reproduce."""
    toks = F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    hashes = F.transform(toks, lambda t: token_hash(t))
    zero = F.array_repeat(F.lit(0).cast("long"), bits)
    votes = F.aggregate(
        hashes,
        zero,
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[
                F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1))
                .otherwise(F.lit(-1))
                .cast("long")
                for b in range(bits)
            ]),
            lambda a, v: a + v,
        ),
    )
    with_votes = df.withColumn("_votes", votes)
    sig = F.lit(0).cast("long")
    for b in range(bits):
        sig = sig.bitwiseOR(
            F.when(F.element_at(F.col("_votes"), b + 1) > 0, F.lit(1 << b).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
    return with_votes.withColumn(out_col, sig).drop("_votes")


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = SIMHASH_BITS,
    token_hash=F.xxhash64,
) -> DataFrame:
    """Near-dup pairs by simhash: band the signature (any pair within
    Hamming k must share ≥1 of k+1 bands), join per band, verify with
    bit_count(a XOR b) ≤ k. All JVM-side.

    With bands ≥ max_hamming+1 the banding is LOSSLESS (pigeonhole): the
    result is exactly {pairs with Hamming(sig_a, sig_b) ≤ k} — an oracle
    may therefore verify all-pairs over the signatures without banding."""
    band_bits = bits // bands
    sig = add_simhash(
        df.select(F.col(id_col).alias("id"), F.col(text_col)), text_col, "sig", bits,
        token_hash=token_hash,
    ).select("id", "sig")
    banded = sig.select(
        "id",
        "sig",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftright(F.col("sig"), i * band_bits)
                    .bitwiseAND(F.lit((1 << band_bits) - 1))
                    .alias("key"),
                )
                for i in range(bands)
            ])
        ).alias("bk"),
    ).select("id", "sig", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))

    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, ["band", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# --- embedding near-dup ------------------------------------------------------


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (pure function of seed)."""
    import hashlib
    import struct

    planes = []
    for p in range(n_planes):
        vals = []
        for d in range(0, dim, 4):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).digest()
            vals.extend(struct.unpack("<4f", h[:16]))
        v = vals[:dim]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def query_band_keys(
    query_vec: list[float], dim: int, bands: int, band_planes: int, seed: int
) -> list[int]:
    """Band keys of a single (driver-side) vector — must agree bit-for-bit
    with ``band_signatures_udf``."""
    import numpy as np

    q = np.asarray(query_vec, dtype=np.float64)
    keys = []
    for i in range(bands):
        planes = np.asarray(_hyperplanes(dim, band_planes, seed + i))
        bits = (planes @ q) > 0
        keys.append(int(sum(1 << j for j, b in enumerate(bits) if b)))
    return keys


def band_signatures_udf(dim: int, bands: int, band_planes: int, seed: int):
    """All band keys in ONE Arrow pass: a (n, dim) @ (dim, bands*planes)
    numpy matmul per batch replaces bands*planes interpreted array-dot
    expressions per row (higher-order functions run outside codegen, so
    the vectorized UDF is the faster engine here)."""
    import numpy as np
    from pyspark.sql import types as T

    planes = np.vstack(
        [np.asarray(_hyperplanes(dim, band_planes, seed + i)) for i in range(bands)]
    )  # (bands*band_planes, dim)
    weights = np.array([1 << j for j in range(band_planes)], dtype=np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sigs(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            if len(s) == 0:
                yield pd.Series([], dtype=object)
                continue
            m = np.vstack([np.asarray(v, dtype=np.float64) for v in s])
            bits = (m @ planes.T) > 0  # (n, bands*band_planes)
            keys = [
                [int(bits[r, i * band_planes:(i + 1) * band_planes] @ weights)
                 for i in range(bands)]
                for r in range(bits.shape[0])
            ]
            yield pd.Series(keys)

    return _sigs


def _banded(df: DataFrame, id_col: str, vec_col: str, dim: int, bands: int,
            band_planes: int, seed: int) -> DataFrame:
    """(id, vec, band, key) — one row per band per input row. The
    signature UDF input is spread first: single-row-group vector files
    plan a 1-task scan, which would serialize the Arrow matmul stage."""
    from knowledge_nexus_spark.partitioning import ensure_min_parallelism

    sigs = band_signatures_udf(dim, bands, band_planes, seed)
    return (
        ensure_min_parallelism(
            df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        )
        .withColumn("_sigs", sigs(F.col("vec")))
        .select("id", "vec", "_sigs", F.posexplode("_sigs").alias("band", "key"))
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    min_cosine: float = 0.95,
    bands: int = 4,
    band_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Cosine near-dup pairs: multiple independent hyperplane-signature
    bands block candidates; exact native cosine verifies. Recall grows with
    ``bands``; bucket sizes shrink with ``band_planes``.

    Shuffle-width note: the banded explode and band self-join carry ONLY
    (id, signature array, band, key) — bands×8 bytes of signatures, not
    vectors. Vectors re-join once per side AFTER the candidate dedup, so
    the bands×rows explosion and the bucket shuffle move tens of
    bytes/row instead of the full embedding (a 3072-dim float vector
    would otherwise be shuffled `bands` times per row).

    Verify engine (r6): the exact cosine over the candidate pairs runs as
    a batched numpy matmul-shaped pandas UDF (``cosine_batched_udf``) —
    bit-identical to the native ``cosine_col`` fold (sequential prefix
    sums, same float64 widening, same denom guard) but ~an order of
    magnitude cheaper at millions of pairs, because array higher-order
    lambdas evaluate interpreted per element (guide §4.2)."""
    from knowledge_nexus_spark.functions.embed import cosine_pairs_arrow

    keyed = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    banded = _banded(keyed, "id", "vec", dim, bands, band_planes, seed).select(
        "id", "_sigs", "band", "key"
    )

    a, b = banded.alias("a"), banded.alias("b")
    # First-matching-band dedup (r6): a pair agreeing on several bands
    # used to be deduplicated with a dropDuplicates — a full exchange of
    # the ~candidate-count rows. Keeping a pair ONLY in its lowest
    # matching band (no earlier band's keys agree) yields exactly one row
    # per distinct pair as a pure FILTER: the full signature arrays ride
    # along (bands longs — still tiny next to a real embedding) and the
    # exchange disappears. Same candidate set, provably: the minimal
    # matching band of a pair is unique.
    earlier_match = F.array_contains(
        F.slice(
            F.zip_with(F.col("a._sigs"), F.col("b._sigs"), lambda x, y: x == y),
            1,
            F.col("band"),
        ),
        F.lit(True),
    )
    cand = (
        a.join(b, ["band", "key"])
        .filter((F.col("a.id") < F.col("b.id")) & ~earlier_match)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    va = keyed.select(F.col("id").alias("id_a"), F.col("vec").alias("va"))
    vb = keyed.select(F.col("id").alias("id_b"), F.col("vec").alias("vb"))
    scored = cosine_pairs_arrow(
        cand.join(va, "id_a").join(vb, "id_b"), "va", "vb", "cosine"
    )
    return (
        scored.filter(F.col("cosine") >= min_cosine)
        .select("id_a", "id_b", "cosine")
    )


def normalized_vec(vec_col):
    """L2-normalize once per ROW so pair scoring is a single dot product —
    array higher-order functions run interpreted (outside codegen), so
    evaluating 3 of them per PAIR dominates a pairwise plan."""
    norm = F.sqrt(
        F.aggregate(
            F.transform(vec_col, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return F.when(
        norm > 0, F.transform(vec_col, lambda x: x.cast("double") / norm)
    ).otherwise(F.transform(vec_col, lambda x: x.cast("double") * 0.0))


def dot_only(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def embedding_neardup_pairs_exact(
    df: DataFrame, id_col: str, vec_col: str, min_cosine: float = 0.95
) -> DataFrame:
    """Brute-force O(n²) variant — the correctness baseline for tests and
    the oracle; never the scale path. Vectors are pre-normalized per row
    (cosine == dot), halving-plus the per-pair interpreted work."""
    keyed = df.select(
        F.col(id_col).alias("id"), normalized_vec(F.col(vec_col)).alias("vec")
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.crossJoin(b)
        .filter(F.col("a.id") < F.col("b.id"))
        .withColumn("cosine", dot_only(F.col("a.vec"), F.col("b.vec")))
        .filter(F.col("cosine") >= min_cosine)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "cosine")
    )


def substring_window_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    max_docs_per_window: int = 64,
) -> DataFrame:
    """Exact substring-window dedup at token granularity (the
    "deduplicating training data" ExactSubstr idea re-shaped for a
    shuffle engine): two docs pair iff they share ANY run of ``window``
    consecutive tokens.

    Scale shape: the sliding windows are generated in one Arrow stage
    (hashlib md5 per window, set-deduped per doc before anything is
    emitted) and reduced to 16-byte md5 fingerprints, so the only wide
    exchange carries (fingerprint, id) —
    never text. Windows shared by more than ``max_docs_per_window`` docs
    are boilerplate (license blocks, navigation chrome); dropping them
    BEFORE pairing caps the pair fan-out per fingerprint at
    C(cap, 2) — the heavy-hitter defence that keeps the join linear at
    100 TB. The cap is part of the operator's contract (mirrored in the
    oracle), not a silent truncation.

    No reference analogue (training-data extension surface, SURVEY §8).

    Plan shape (r6): the Arrow window stage feeds ONE hash repartition
    on h that serves BOTH the hot-window count prefilter and the
    collect_set id-set aggregation (replacing the old distinct →
    count-join → self-join chain: 4 exchanges and a doubled subtree);
    the per-window doc-id sets (≤ cap ids, the prefilter drops
    boilerplate windows BEFORE any set is materialized) expand to pairs
    natively via a nested transform over the sorted set, and only the
    pair-distinct shuffles again. Fingerprints travel as 16-byte md5
    binaries, not 32-char hex strings — same 128-bit identity, half the
    exchange bytes (guide §2.3 narrower types)."""
    import pyarrow as pa
    from pyspark.sql import types as ST

    from knowledge_nexus_spark.partitioning import ensure_min_parallelism

    # Window fingerprints are generated in ONE Arrow stage (hashlib md5
    # per window, per-doc set-deduped in Python) — same 16-byte digests
    # as the former unhex(md5(concat_ws)) array transform (md5 is md5),
    # but without interpreter dispatch per window (array HOF lambdas run
    # outside codegen, guide §4.2), and already deduplicated within the
    # doc so the exchange carries each (id, h) once. Tokenizer parity:
    # trim spaces only, lower, regex split — see fingerprint_summary_arrow.
    id_field = df.schema[id_col]
    out_schema = ST.StructType(
        [
            ST.StructField("id", id_field.dataType, id_field.nullable),
            ST.StructField("h", ST.BinaryType()),
        ]
    )

    def gen(batches):
        import hashlib
        import re

        for b in batches:
            ids = b.column(0).to_pylist()
            texts = b.column(1).to_pylist()
            o_id, o_h = [], []
            for did, tx in zip(ids, texts):
                toks = re.split(r"\s+", (tx or "").strip(" ").lower(), flags=re.ASCII)
                if len(toks) < window:
                    continue
                seen = set()
                for i in range(len(toks) - window + 1):
                    seen.add(
                        hashlib.md5(" ".join(toks[i : i + window]).encode()).digest()
                    )
                o_id.extend([did] * len(seen))
                o_h.extend(seen)
            yield pa.RecordBatch.from_arrays(
                [pa.array(o_id, b.schema.field(0).type), pa.array(o_h, pa.binary())],
                ["id", "h"],
            )

    base = ensure_min_parallelism(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_tx"))
    )
    # ONE hash exchange on h serves count-prefilter AND the id-set
    # collection: the explicit repartition's HashPartitioning satisfies
    # both aggregations' required distribution (no further Exchange; the
    # shared subtree reuses the one shuffle), and the anti-join of the
    # (h-partitioned) hot-window set happens BEFORE collect_set — a
    # boilerplate window shared by millions of docs is dropped from
    # counts, never materialized as an id set in one aggregation buffer
    # (the heavy-hitter defence the pre-r6 count-then-join plan had).
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    fp = base.mapInArrow(gen, schema=out_schema).repartition(n_parts, "h")
    hot = (
        fp.groupBy("h")
        .agg(F.count_distinct("id").alias("_nd"))
        .where(F.col("_nd") > max_docs_per_window)
        .select("h")
    )
    grouped = (
        fp.join(hot, "h", "left_anti")
        .groupBy("h")
        .agg(F.collect_set("id").alias("_ids"))
        .where(F.size("_ids") >= 2)
        .select(F.sort_array("_ids").alias("_ids"))
    )
    ids = F.col("_ids")
    pairs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
