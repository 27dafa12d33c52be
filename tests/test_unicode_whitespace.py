"""The Arrow tokenizers split exactly where Spark's native
``split(lower(trim(t)), '\\s+')`` splits. Java's ``\\s`` is ASCII-only, so
no-break space, the information separators \\x1c-\\x1f, NEL and the line
separator stay INSIDE a token; Python's Unicode ``\\s`` would split on them
and make the Arrow engines disagree with the native ones."""

from pyspark.sql import functions as F

from knowledge_nexus_spark.operators.dedup import substring_window_pairs
from knowledge_nexus_spark.operators.fingerprint import (
    fingerprint_summary,
    fingerprint_summary_arrow,
)

UNICODE_SPACES = ["\xa0", "\x1c", "\x1d", "\x1e", "\x1f", "\x85", " "]
WORDS = "alpha beta gamma delta epsilon zeta eta theta".split()


def _texts():
    rows = [(0, " ".join(WORDS)), (1, " ".join(WORDS))]
    for i, sep in enumerate(UNICODE_SPACES):
        # one Unicode separator among ASCII spaces, plus a tab: joined
        # "beta<sep>gamma" is ONE token natively
        rows.append((10 + i, "\t" + " ".join(WORDS[:2]) + sep + " ".join(WORDS[2:])))
        rows.append((20 + i, sep.join(WORDS)))
    return rows


def _native_tokens(df):
    return {
        r.doc_id: r.toks
        for r in df.select(
            "doc_id", F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("toks")
        ).collect()
    }


def test_fingerprint_arrow_tokenizes_like_native(spark):
    df = spark.createDataFrame(_texts(), "doc_id long, text string")
    toks = _native_tokens(df)
    assert len(toks[10]) == len(WORDS)  # tab-leading empty token, one joined pair
    assert len(toks[20]) == 1  # no ASCII whitespace at all
    native = {tuple(r) for r in fingerprint_summary(df, "doc_id", "text").collect()}
    arrow = {tuple(r) for r in fingerprint_summary_arrow(df, "doc_id", "text").collect()}
    assert arrow == native and native


def test_substring_windows_tokenize_like_native(spark):
    window = 4
    df = spark.createDataFrame(_texts(), "doc_id long, text string")
    windows = {
        d: {tuple(t[i : i + window]) for i in range(len(t) - window + 1)}
        for d, t in _native_tokens(df).items()
    }
    want = {(a, b) for a in windows for b in windows if a < b and windows[a] & windows[b]}
    got = {
        (r.doc_a, r.doc_b)
        for r in substring_window_pairs(
            df, "doc_id", "text", window=window, max_docs_per_window=100
        ).collect()
    }
    assert (0, 1) in want and (0, 20) not in want
    assert got == want
