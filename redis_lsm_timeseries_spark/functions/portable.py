"""Portable primitives: the SAME function computed by Spark and by the
DuckDB oracle, so hash-based operators (minhash, simhash, LSH) are
differentially testable. Engine-native hashes (Spark murmur3 ``hash``,
DuckDB ``hash``) use different algorithms, so everything routes through
md5, which both engines implement identically.

Each primitive has a Spark Column form and a SQL-template form
(``*_SQL.format(...)``) that MUST stay in lockstep — tests compare
their outputs cell-exactly.

- ``hash64``  first 15 hex chars of md5 as a non-negative int64
  (60 bits — headroom so bit-position math stays under the sign bit)
- ``tokens``  lowercase whitespace tokenization
- ``hashed_shingles_expr``  word k-gram hashes (one md5 per token,
  arithmetic k-gram combination — shingle strings are never built)
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# ------------------------------------------------------------------ hash64
# Spark: conv(hex, 16, 10) yields a decimal string; cast to long.
# DuckDB: '0x'-prefixed hex string casts straight to BIGINT.


def hash64(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


HASH64_SQL = "(('0x' || substr(md5({e}), 1, 15))::BIGINT)"

# hash64 usable inside Spark higher-order-function lambdas (expr string).
HASH64_SPARK_EXPR = "CAST(conv(substring(md5({e}), 1, 15), 16, 10) AS BIGINT)"


# ------------------------------------------------------------------ tokens
def tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.lower(c), r"\s+")


TOKENS_SQL = "string_split_regex(lower({e}), '\\s+')"


def nonempty_tokens(col: Column | str) -> Column:
    """``tokens`` minus the phantom empties: Spark's split('', '\\s+')
    yields [''] and edge whitespace adds '' entries, so every consumer
    that COUNTS or ENUMERATES tokens must filter them (chunking,
    packing, LM scoring, repetition stats all share this stream)."""
    return F.filter(tokens(col), lambda t: t != F.lit(""))


# ------------------------------------------------------- hashed shingles
# The dedup pipeline never needs shingle STRINGS — only their hashes.
# Hashing each token once (one md5 per token) and combining k
# consecutive token hashes arithmetically skips building n-2 k-gram
# strings per document, which profiling shows dominates the pipeline.
# The combination is position-sensitive (distinct odd multipliers) and
# overflow-safe: h < 2^60, so h*7 < 2^63.

SHINGLE_MOD = 1 << 60
SHINGLE_MULTS = (3, 5, 7)


def hashed_shingles_expr(text_col: str, k: int = 3) -> Column:
    """Word k-gram hashes straight from a text column, as one
    expression with every intermediate array BOUND as a lambda
    variable (``transform(array(x), v -> ...)`` evaluates x once and
    binds it as v).

    The binding is the critical part: referencing a derived array
    COLUMN as ``th[i]`` inside a lambda re-inlines the whole array
    expression at every element access (projection collapse), turning
    an O(n) pass into O(n^2) re-hashing — measured 5x slower at sf0.1.
    Bound lambda variables are plain values; indexing them is O(1).

    Short documents (< k tokens) yield an empty array."""
    h = HASH64_SPARK_EXPR.format(e="t")
    combine = " + ".join(
        f"((th[i + {j}] * {SHINGLE_MULTS[j]}) % {SHINGLE_MOD})"
        for j in range(k)
    )
    toks = f"split(lower({text_col}), '\\\\s+')"
    return F.expr(
        f"element_at(transform(array(transform({toks}, t -> {h})), th -> "
        f"IF(size(th) >= {k}, "
        f"transform(sequence(0, size(th) - {k}), i -> ({combine}) % {SHINGLE_MOD}), "
        f"CAST(array() AS ARRAY<BIGINT>))), 1)"
    )


# ------------------------------------------------------ hashed windows
# Long stride-1 token windows for SUBSTRING-level dedup (Lee et al.
# 2022-style duplicate spans). Same skeleton as the k=3 shingles, but
# k here is a span length (tens of tokens), so the arithmetic differs:
# token hashes are first reduced mod 2^50 term-by-term, making the sum
# of up to ~4000 terms overflow-safe, and the position multiplier is
# the j-th odd number (odd => invertible mod 2^50, position-sensitive).
# Windows index the NONEMPTY token stream — span offsets must line up
# with the token positions reassembly slices on.

WINDOW_MOD = 1 << 50


def _window_mult(j: int) -> int:
    return 3 + 2 * j


def hashed_windows_expr(text_col: str, k: int) -> Column:
    """Stride-1 hashes of every k-token window of the nonempty token
    stream, as one bound-lambda expression (one md5 per token; see
    ``hashed_shingles_expr`` for why the binding matters). Documents
    with < k tokens yield an empty array."""
    if k < 1:
        raise ValueError("k must be >= 1")
    h = HASH64_SPARK_EXPR.format(e="t")
    # reduce BEFORE multiplying: a 60-bit hash times a multiplier > 7
    # would overflow int64; (h % 2^50) * (2k+1) stays under 2^63 for
    # any realistic span length, and the k-term sum under 2^63 too.
    combine = " + ".join(
        f"(((th[i + {j}] % {WINDOW_MOD}) * {_window_mult(j)}) % {WINDOW_MOD})"
        for j in range(k)
    )
    toks = f"filter(split(lower({text_col}), '\\\\s+'), t -> t != '')"
    return F.expr(
        f"element_at(transform(array(transform({toks}, t -> {h})), th -> "
        f"IF(size(th) >= {k}, "
        f"transform(sequence(0, size(th) - {k}), i -> ({combine}) % {WINDOW_MOD}), "
        f"CAST(array() AS ARRAY<BIGINT>))), 1)"
    )


def hashed_windows_sql(th_col: str, k: int) -> str:
    """DuckDB twin of ``hashed_windows_expr``'s combination, over a
    per-token hash list (``token_hashes_sql`` of the NONEMPTY tokens;
    1-indexed lists; range(n<=0) is already empty)."""
    parts = " + ".join(
        f"((({th_col}[i + {j + 1}] % {WINDOW_MOD}) * {_window_mult(j)})"
        f" % {WINDOW_MOD})"
        for j in range(k)
    )
    return (
        f"list_transform(range(len({th_col}) - {k - 1}), "
        f"i -> ({parts}) % {WINDOW_MOD})"
    )


def token_hashes_sql(tok_col: str) -> str:
    """DuckDB twin of the per-token hashing inside
    ``hashed_shingles_expr``."""
    h = HASH64_SQL.format(e="t")
    return f"list_transform({tok_col}, t -> {h})"


def hashed_shingles_sql(th_col: str, k: int = 3) -> str:
    """DuckDB twin of ``hashed_shingles_expr``'s k-gram combination
    (1-indexed lists; range(n<=0) is already empty, no guard needed)."""
    parts = " + ".join(
        f"(({th_col}[i + {j + 1}] * {SHINGLE_MULTS[j]}) % {SHINGLE_MOD})"
        for j in range(k)
    )
    return (
        f"list_transform(range(len({th_col}) - {k - 1}), "
        f"i -> ({parts}) % {SHINGLE_MOD})"
    )
