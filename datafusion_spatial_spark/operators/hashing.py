"""Deterministic, cross-engine hash expression builders.

The dedup / fingerprint operators need hash functions that (a) run fully
JVM-side in Spark (no Python), and (b) can be reproduced *bit-for-bit* by the
DuckDB oracle in plain SQL, so the driver's value-hash correctness gate can
check them. Spark's ``xxhash64`` and DuckDB's ``hash`` are different
algorithms, so we define a simple polynomial rolling hash over code points,
mod a 30-bit prime — expressible in both engines with lambda list functions
and safe under ANSI overflow rules (every intermediate < 2^63).

For production-scale runs where no oracle is involved, the same operators
accept ``hash_fn="xxhash64"`` to use Spark's native 64-bit hash instead
(faster; one JVM intrinsic per value, and far better collision behavior).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

P = 1_000_000_007  # 30-bit prime modulus
CHAR_MULT = 31
SEQ_MULT = 131


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def poly_hash_str(col: Column | str) -> Column:
    """Polynomial hash of a string's code points, mod P (pure Catalyst —
    higher-order functions, no Python). Higher-order functions run
    interpreted: a projection that holds one sits outside any
    whole-stage-codegen ``*(n)`` stage of the physical plan.

    Implementation note: ``split(c, '')`` yields the char array in O(n);
    the earlier per-index ``substring(c, i, 1)`` form was O(n²) per string
    and dominated text_stats at bench scale."""
    c = _c(col)
    return F.aggregate(
        F.transform(F.split(c, ""), lambda ch: F.ascii(ch).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * F.lit(CHAR_MULT) + x) % F.lit(P),
    )


def poly_hash_list(col: Column | str) -> Column:
    """Polynomial hash of an array<bigint>, mod P."""
    return F.aggregate(
        _c(col),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * F.lit(SEQ_MULT) + x.cast("long")) % F.lit(P),
    )


# --- SQL-text twins (shared with the DuckDB oracle) -----------------------


def poly_hash_str_sql(expr: str) -> str:
    """Spark SQL text computing poly_hash_str(expr)."""
    return (
        f"aggregate(transform(sequence(1, length({expr})), "
        f"i -> cast(ascii(substring({expr}, i, 1)) as bigint)), "
        f"cast(0 as bigint), (acc, x) -> (acc * {CHAR_MULT} + x) % {P})"
    )


def poly_hash_str_duckdb(expr: str) -> str:
    """DuckDB SQL text computing the identical value."""
    return (
        f"list_reduce(list_prepend(cast(0 as bigint), "
        f"list_transform(range(1, length({expr}) + 1), "
        f"i -> cast(ascii(substr({expr}, i, 1)) as bigint))), "
        f"(acc, x) -> (acc * {CHAR_MULT} + x) % {P})"
    )


def poly_hash_list_sql(expr: str) -> str:
    return (
        f"aggregate({expr}, cast(0 as bigint), "
        f"(acc, x) -> (acc * {SEQ_MULT} + cast(x as bigint)) % {P})"
    )


def poly_hash_list_duckdb(expr: str) -> str:
    return (
        f"list_reduce(list_prepend(cast(0 as bigint), "
        f"list_transform({expr}, x -> cast(x as bigint))), "
        f"(acc, x) -> (acc * {SEQ_MULT} + x) % {P})"
    )


def minhash_affine_params(n: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the n affine min-hash functions
    h_i(x) = (a_i * x + b_i) mod P. Generated from a fixed LCG so both the
    Spark expression and the oracle SQL embed identical literals."""
    params = []
    state = seed
    for _ in range(n):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = state % (P - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % P
        params.append((a, b))
    return params
