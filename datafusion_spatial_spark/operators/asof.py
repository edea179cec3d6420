"""As-of (nearest-prior-event) join — a relational operator Spark lacks.

``asof_join(left, right, ...)`` attaches to each left row the single right
row with the greatest ``right_ts <= left_ts`` for the same key (the
semantics of DuckDB/QuestDB/kdb ASOF JOIN, or ``pd.merge_asof``).

Spark-first implementation — the union/window trick, fully shuffle-planned
by Catalyst with NO Python:

1. tag both inputs and union them on (key, ts);
2. one window per key ordered by (ts, side-tag): ``last(right-payload,
   ignoreNulls)`` over rows-unbounded-preceding carries the most recent
   right row forward;
3. keep left rows, now annotated with the carried right payload.

One shuffle (the window's partitionBy key), versus the naive
range-join-then-rank which shuffles twice and explodes candidates. Skewed
keys: AQE or pre-salting upstream. An alternative ``mapInPandas``
merge-asof per key-partition is deliberately avoided — window+last() stays
in Tungsten.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructType


def _orderable(dt) -> bool:
    """Whether a column of this type can appear in a window ORDER BY
    (mirrors Catalyst's RowOrdering.isOrderable: maps are not orderable,
    structs/arrays are orderable iff their element types are)."""
    if isinstance(dt, MapType):
        return False
    if isinstance(dt, StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    if isinstance(dt, ArrayType):
        return _orderable(dt.elementType)
    return True


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
    direction: str = "backward",
    suffix: str = "_asof",
) -> DataFrame:
    """Left rows + columns ``<payload><suffix>`` from the as-of right row.

    direction='backward': right_ts <= left_ts (most recent prior);
    direction='forward':  right_ts >= left_ts (nearest following).
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")

    lcols = left.columns
    # ASOF semantics (DuckDB / pd.merge_asof): NULL keys and NULL
    # timestamps never match — drop such RIGHT rows up front (a NULL-ts
    # right row would otherwise sort NULLS-FIRST and be carried into
    # left rows that have no true prior match; r7 review fix)
    r = right.filter(F.col(on).isNotNull() & F.col(right_ts).isNotNull()).select(
        F.col(on),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.struct(*[F.col(c) for c in right_payload]).alias("__payload"),
    )
    payload_type = r.schema["__payload"].dataType
    lschema = left.schema
    l = left.select(
        *lcols,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(payload_type).alias("__payload"),
    )
    u = l.unionByName(
        r.select(
            *[
                F.lit(None).cast(lschema[c].dataType).alias(c)
                for c in lcols
                if c != on
            ],
            F.col(on),
            F.col("__ts"),
            F.col("__side"),
            F.col("__payload"),
        )
    )
    # final __payload term: deterministic tie-break among right rows at
    # identical (key, ts) — last() then carries the MAX payload instead of
    # whichever row Spark happened to sort last (r7 review fix). Order by
    # the ORDERABLE payload fields only, not the whole struct: a map-typed
    # payload column would make the struct comparison an AnalysisException
    # where the join previously ran, and per-field terms keep the sort key
    # no wider than the orderable data (r8 advice fix). Unorderable fields
    # (maps, or structs/arrays containing them) still participate via a
    # final surrogate term: xxhash64 of their to_json rendering — so two
    # right rows at identical (key, ts) that tie on every orderable field
    # but differ in a map column are carried deterministically too (r9
    # advice fix; previously that partial tie was left to Spark's sort).
    tie = [
        F.col(f"__payload.{f.name}").asc()
        for f in payload_type.fields
        if _orderable(f.dataType)
    ]
    unorderable = [
        f.name for f in payload_type.fields if not _orderable(f.dataType)
    ]
    if unorderable:
        tie.append(
            F.xxhash64(
                *[F.to_json(F.col(f"__payload.{n}")) for n in unorderable]
            ).asc()
        )
    # backward: right rows (side 0) sort before left rows at equal ts ->
    # inclusive
    ts_order = F.col("__ts").asc() if direction == "backward" else F.col("__ts").desc()
    w = (
        Window.partitionBy(on)
        .orderBy(ts_order, F.col("__side").asc(), *tie)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = u.withColumn("__match", F.last("__payload", ignorenulls=True).over(w))
    # a left row with a NULL key or NULL timestamp matches nothing (it
    # would otherwise adopt a NULL-key partner or, under the descending
    # forward window, the minimum-ts right row; r7 review fix)
    match = F.when(
        F.col(on).isNotNull() & F.col("__ts").isNotNull(), F.col("__match")
    )
    return carried.filter(F.col("__side") == 1).select(
        *lcols, *[match[c].alias(f"{c}{suffix}") for c in right_payload]
    )
