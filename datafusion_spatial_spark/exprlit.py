"""One-call literal arrays and the vector-math expressions (r16).

``F.array(*[F.lit(x) for x in vec])`` costs one py4j round trip per
element (~0.3 ms each) — a 64-dim literal vector is ~100 ms of pure driver
socket latency, and the ANN builders ship dozens of them (pivots, PQ
codebooks/LUTs, SQ8 params) on every build. Rendering the same literal as
ONE SQL string via ``F.expr`` is a single round trip (~1 ms) and parses to
bit-identical doubles: Python ``repr`` emits the shortest round-trip
decimal form and Spark's double literal parser (Java ``parseDouble``)
maps it back to the exact same IEEE-754 value — verified down to
denormals, with the sign of ``-0.0`` kept. Non-finite values render as
``CAST('NaN' AS DOUBLE)`` / ``CAST('Infinity' AS DOUBLE)`` /
``CAST('-Infinity' AS DOUBLE)``, which the optimizer folds to the same
literal ``F.lit`` gives, so every double array renders and none falls
back to a per-element path.
"""

from __future__ import annotations

import math


def render_double(v: float) -> str:
    """SQL text of one double literal."""
    v = float(v)
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(v):
        return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
    return f"{v!r}D"


def render_double_array(values) -> str:
    """SQL text of a literal ``array<double>``."""
    return "array(" + ",".join(render_double(v) for v in values) + ")"


def quote_col(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


# --- The vector-math builders -------------------------------------------
#
# The one definition of the vector math: every simsearch scorer and gate
# builds its expression from these SQL renderings, each in one ``F.expr``
# round trip instead of one py4j call per node (a higher-order-function
# lambda alone costs ~20 ms to construct through the Column API). The
# folds are sequential (the order DuckDB's list_reduce uses), so oracle
# mirrors are bit-exact; tests/test_exprlit_r16.py pins them against a
# pure-Python reference.
#
# Operands are SQL text, or a sequence of numbers, which renders as a
# literal ``array<double>``.


def _operand(a) -> str:
    return a if isinstance(a, str) else render_double_array(a)


def vec_sql(col_name: str) -> str:
    """transform(col, x -> cast(x as double))."""
    return f"transform({quote_col(col_name)}, __v -> cast(__v as double))"


def dot_sql(a, b) -> str:
    return (
        f"aggregate(zip_with({_operand(a)}, {_operand(b)}, "
        f"(__x, __y) -> __x * __y), 0.0D, (__a, __x) -> __a + __x)"
    )


def norm_sql(a) -> str:
    return (
        f"sqrt(aggregate({_operand(a)}, 0.0D, (__a, __x) -> __a + __x * __x))"
    )


def cosine_raw_sql(a, b, norm_a: str | None = None, norm_b: str | None = None) -> str:
    """``dot(a, b) / (|a| * |b|)``, NULL when a norm is zero. try_divide
    keeps that NULL under ANSI mode (plain ``/`` raises DIVIDE_BY_ZERO
    there) and plans as the non-failing ``/``, so every other row is
    unchanged. ``norm_a``/``norm_b`` (SQL text) replace a norm the
    caller computed once upstream."""
    na = norm_sql(a) if norm_a is None else norm_a
    nb = norm_sql(b) if norm_b is None else norm_b
    return f"try_divide({dot_sql(a, b)}, {na} * {nb})"


def not_nan_sql(x: str) -> str:
    """``x`` with NaN mapped to NULL."""
    return f"CASE WHEN NOT isnan({x}) THEN {x} END"


def cosine_sql(a, b) -> str:
    """NaN-safe cosine: a NaN-contaminated or zero-norm vector yields
    NULL, also under the default ANSI mode, which sorts LAST under desc
    and fails every >= threshold —
    Spark otherwise ranks NaN above every number, so one corrupt vector
    would occupy a top-k slot and 'near-duplicate' its whole bucket."""
    return not_nan_sql(cosine_raw_sql(a, b))


def sqdist_sql(a, b) -> str:
    """Sequential squared L2 distance."""
    return (
        f"aggregate(zip_with({_operand(a)}, {_operand(b)}, "
        f"(__x, __y) -> (__x - __y) * (__x - __y)), "
        f"0.0D, (__a, __x) -> __a + __x)"
    )
