"""Memoization for immutable Catalyst Column trees (r15 optimization).

Building a PySpark ``Column`` costs one py4j round trip (~0.3 ms) per
expression node; the engine's heavier builders (MinHash signatures, the
spatial-join grid expressions, the text-stats set) spend 0.3–1.1 s of pure
driver-side socket latency per query build, rebuilding byte-identical
expression trees on every call. ``Column`` objects are immutable plan
fragments — reusing one across queries (and sessions of the same JVM) is
safe, exactly like reusing a parsed SQL string.

``cached_columns(key, build)`` memoizes whatever ``build()`` returns
(a Column or a tuple/list of Columns) keyed by ``key`` plus the *active
SparkContext* (ADVICE r15: the py4j gateway survives a same-JVM
SparkContext restart, so gateway-keyed entries could hand a UDF-bearing
Column bound to a dead context's state to the new one; context identity
invalidates on stop/restart as well as JVM death). The cache holds
EXPRESSION PLANS only — never DataFrames, data, or results — and is
bounded: every insert purges the entries of dead contexts (a scan of at
most ``_MAX_ENTRIES``, on a miss only) and the live set is capped at
``_MAX_ENTRIES`` with FIFO eviction, so a stopped context's plans do not
outlive it and unbounded distinct keys cannot grow driver memory without
limit.

Callers must only use it when ``key`` fully determines the expression
(column *names* and plain-value params — never Column objects).
Set ``SPARK_GRAFT_NO_EXPR_CACHE=1`` to disable.
"""

from __future__ import annotations

import os
from typing import Any, Callable

_CACHE: dict[tuple, tuple[Any, Any]] = {}
_MAX_ENTRIES = 2048


def _context() -> Any:
    from pyspark import SparkContext

    return getattr(SparkContext, "_active_spark_context", None)


def cached_columns(key: tuple, build: Callable[[], Any]) -> Any:
    if os.environ.get("SPARK_GRAFT_NO_EXPR_CACHE", "") == "1":
        return build()
    ctx = _context()
    ent = _CACHE.get(key)
    if ent is not None and ent[0] is ctx and ctx is not None:
        return ent[1]
    val = build()
    if ctx is None:
        return val  # no live context to bind the plan fragment to
    for k in [k for k, (c, _) in _CACHE.items() if c is not ctx]:
        del _CACHE[k]  # stale-context purge first
    while len(_CACHE) >= _MAX_ENTRIES:  # then FIFO cap
        del _CACHE[next(iter(_CACHE))]
    _CACHE[key] = (ctx, val)
    return val
