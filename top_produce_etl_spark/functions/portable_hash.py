"""Engine-portable deterministic token hash.

``xxhash64`` (Spark's fast JVM hash) has no DuckDB equivalent, so
oracle-checking signature algorithms (SimHash) needs a hash BOTH
engines compute bit-identically from plain SQL. This is a classic
31-ary polynomial rolling hash over code points, mod 2^31:

    h(t) = ( Σ_{i<min(|t|,40)} code(t_i) · 31^i ) mod 2^31

with the powers 31^i mod 2^31 precomputed as literals so every term
fits comfortably in a 64-bit integer (≤ 255·2^31 ≈ 2^39; 40 terms
≤ 2^45 — no overflow, no engine-specific modpow needed).

The production-scale path keeps xxhash64 (one fused JVM intrinsic
per token); this hash exists so the *algorithm around it* can be
verified cross-engine. 31 bits of entropy is plenty for that: the
verifier compares signatures, not collision resistance.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

PORTABLE_BITS = 31
PORTABLE_MOD = 1 << PORTABLE_BITS
MAX_TOKEN_LEN = 40

# A single 31-ary polynomial gives 31 bits of entropy — not enough
# resolution for a SimHash signature (random 500-doc corpora collide
# at Hamming ≤ 3 constantly). Composing two independent polynomials
# (bases 31 and 37), 28 bits from each, yields a 56-bit portable
# hash: 8 chunks × 7 bits tiles it exactly for pigeonhole blocking.
COMPOSITE_HALF_BITS = 28
COMPOSITE_BITS = 2 * COMPOSITE_HALF_BITS


def _powers(base: int) -> list[int]:
    return [pow(base, i, PORTABLE_MOD) for i in range(MAX_TOKEN_LEN)]


def _spark_powers(base: int) -> str:
    return "array(" + ",".join(f"{p}L" for p in _powers(base)) + ")"


def _duck_powers(base: int) -> str:
    return "[" + ",".join(f"CAST({p} AS BIGINT)" for p in _powers(base)) + "]"


def portable_hash_spark_sql(name: str, base: int = 31) -> str:
    return f"""aggregate(
              transform(sequence(1, least(length({name}), {MAX_TOKEN_LEN})),
                        i -> CAST(ascii(substring({name}, i, 1)) AS BIGINT)
                             * element_at({_spark_powers(base)}, i)),
              0L, (a, x) -> a + x) % {PORTABLE_MOD}"""


def portable_hash_sql(col_sql: str, base: int = 31) -> str:
    """DuckDB SQL fragment computing the identical hash."""
    return (
        f"list_sum(list_transform(range(1, least(length({col_sql}), "
        f"{MAX_TOKEN_LEN}) + 1), i -> CAST(ascii(substr({col_sql}, "
        f"CAST(i AS INT), 1)) AS BIGINT) * {_duck_powers(base)}[i])) "
        f"% {PORTABLE_MOD}"
    )


_HALF_MOD = 1 << COMPOSITE_HALF_BITS

# Polynomial hashes of SIMILAR tokens are correlated (no avalanche):
# one-character edits only perturb low-order structure, which makes
# SimHash signatures of docs sharing vocabulary cluster far tighter
# than random and floods the Hamming-≤d candidate set. A two-round
# multiply-xorshift finalizer (the classic 32-bit integer-hash
# pattern, adapted to 31 bits so every product fits in int64 even
# under ANSI overflow checking) decorrelates them. Both engines
# express it with the same integer ops; only the xor/shift spellings
# differ (Spark SQL: ^ and shiftright; DuckDB: xor() and >>).
_MIX_MULT = 73244475  # odd multiplier from the 32-bit finalizer family


def _mix31(h: str, xor_fn, shr_fn) -> str:
    m1 = f"((({xor_fn(h, shr_fn(h, 16))}) * {_MIX_MULT}) % {PORTABLE_MOD})"
    m2 = f"((({xor_fn(m1, shr_fn(m1, 16))}) * {_MIX_MULT}) % {PORTABLE_MOD})"
    return f"({xor_fn(m2, shr_fn(m2, 16))})"


def _spark_mix31(h: str) -> str:
    return _mix31(
        h,
        lambda a, b: f"({a} ^ {b})",
        lambda a, n: f"shiftright({a}, {n})",
    )


def _duck_mix31(h: str) -> str:
    return _mix31(
        h,
        lambda a, b: f"xor({a}, {b})",
        lambda a, n: f"({a} >> {n})",
    )


def composite_hash_col(col: str) -> Column:
    """56-bit composite portable hash (Spark side): two independent
    polynomials, each avalanche-mixed, 28 bits from each half.

    Although each avalanche round textually inlines its input 2-3
    times, runtime subexpression elimination keeps the cost linear —
    measured no faster when hand-staged through projections, so the
    single-Column spelling stays."""
    h31 = _spark_mix31(f"({portable_hash_spark_sql(col, 31)})")
    h37 = _spark_mix31(f"({portable_hash_spark_sql(col, 37)})")
    return F.expr(
        f"({h31} % {_HALF_MOD}) + ({h37} % {_HALF_MOD}) * {_HALF_MOD}"
    )


def composite_hash_sql(col_sql: str) -> str:
    """56-bit composite portable hash (DuckDB side, bit-identical)."""
    h31 = _duck_mix31(f"({portable_hash_sql(col_sql, 31)})")
    h37 = _duck_mix31(f"({portable_hash_sql(col_sql, 37)})")
    return (
        f"({h31} % {_HALF_MOD}) + ({h37} % {_HALF_MOD}) * {_HALF_MOD}"
    )


# --- full-length variant (round-8 advisor fix) ------------------------
#
# composite_hash reads only the first MAX_TOKEN_LEN (40) characters —
# fine for TOKENS (its design target), but a correctness hole when the
# input is a composite KEY that can exceed 40 chars (the DP noise key
# in operators/privacy.py: two keys sharing a 40-char prefix drew
# IDENTICAL noise). The full variant folds the string in 40-char
# chunks: each chunk is hashed by the same mixed polynomial pair, the
# chunk index is baked in via an odd-constant offset before the
# avalanche (so chunk permutations change the hash), and the mixed
# chunk hashes are summed per half. Every intermediate fits int64:
# per-chunk mixed value < 2^31, so the running sum stays exact up to
# ~2^32 chunks. Inputs must be NON-EMPTY (every call site prefixes a
# salt; the underlying polynomial's empty-string behavior diverges
# across engines, so we keep that contract rather than widen the SQL).

_CHUNK_PC = 1013904223  # odd constant (Numerical Recipes LCG increment)


def _full_half_spark(name: str, base: int) -> str:
    chunk = f"substring({name}, 1 + __j * {MAX_TOKEN_LEN}, {MAX_TOKEN_LEN})"
    mixed = _spark_mix31(
        f"((({portable_hash_spark_sql(chunk, base)})"
        f" + CAST(__j AS BIGINT) * {_CHUNK_PC}L) % {PORTABLE_MOD})"
    )
    return f"""aggregate(
        sequence(0, CAST((greatest(length({name}), 1) - 1)
                         DIV {MAX_TOKEN_LEN} AS INT)),
        0L, (__acc, __j) -> __acc + {mixed}) % {_HALF_MOD}"""


def _full_half_duck(col_sql: str, base: int) -> str:
    chunk = (
        f"substr({col_sql}, CAST(1 + __j * {MAX_TOKEN_LEN} AS INT),"
        f" {MAX_TOKEN_LEN})"
    )
    mixed = _duck_mix31(
        f"((({portable_hash_sql(chunk, base)})"
        f" + __j * {_CHUNK_PC}) % {PORTABLE_MOD})"
    )
    return (
        f"list_sum(list_transform(range(0, CAST((greatest(length("
        f"{col_sql}), 1) - 1) // {MAX_TOKEN_LEN} AS INT) + 1), "
        f"__j -> {mixed})) % {_HALF_MOD}"
    )


def composite_hash_full_col(col: str) -> Column:
    """56-bit composite hash of the FULL string (Spark side): 40-char
    chunk folding over the mixed polynomial pair — no prefix
    truncation. Input expression must be non-empty."""
    return F.expr(
        f"({_full_half_spark(col, 31)})"
        f" + ({_full_half_spark(col, 37)}) * {_HALF_MOD}"
    )


def composite_hash_full_sql(col_sql: str) -> str:
    """DuckDB twin of :func:`composite_hash_full_col` (bit-identical)."""
    return (
        f"({_full_half_duck(col_sql, 31)})"
        f" + ({_full_half_duck(col_sql, 37)}) * {_HALF_MOD}"
    )
