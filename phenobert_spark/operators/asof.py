"""As-of (temporal point-in-time) join — the classic operator Spark's
DataFrame API lacks natively: for every left row, the single right row
with the greatest timestamp <= the left timestamp, per key.

The naive formulation is a range join (``l.ts >= r.ts`` + window
argmax), which Spark plans as a broadcast-nested-loop or a sort-merge
over an inequality — O(|L| x |R|) per key and a known scale-killer.
This implementation uses the union + ordered-window pattern instead:

1. union both sides, tagged, with the right side's payload packed in
   one struct column (NULL on left rows),
2. one window per key ordered by (ts, side, tiebreak) — right rows
   sort BEFORE left rows at equal ts, so ties match inclusively —
   propagating ``last(payload, ignorenulls=True)`` forward,
3. keep left rows; their carried struct IS the as-of match.

One shuffle total (the window partition), linear in |L| + |R|,
skew-bounded by the hottest key — the same cost as sessionization.
DuckDB ships a native ASOF JOIN; the q114 oracle deliberately uses an
independent correlated-subquery formulation (ORDER BY ts DESC, id
DESC LIMIT 1) rather than mirroring this window algorithm.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    right_cols: list[str] | None = None,
    tiebreak: str | None = None,
    tolerance: Column | None = None,
) -> DataFrame:
    """For each left row: the latest right row (same ``key``) with
    ``right.ts <= left.ts``; unmatched left rows keep NULL matches.

    ``right_cols``: right-side columns to carry (default: all but
    key). ``tiebreak``: right column ordering equal-``ts`` right rows
    (the max wins; required for a deterministic contract — falls back
    to the first of ``right_cols``). ``tolerance``: optional max lag
    as a Column interval/expression; matches older than
    ``left.ts - tolerance`` are nulled (checked AFTER the as-of
    selection, standard pandas/Flink semantics). Matched columns come
    back as ``matched_{col}`` plus ``matched_{ts}``.
    """
    if right_cols is None:
        right_cols = [c for c in right.columns if c != key]
    if ts not in right_cols:
        right_cols = [ts] + right_cols
    # A ts-only right frame (carry just matched_ts) is legitimate: the
    # window's _t ordering already breaks its ties, so ts itself is a
    # valid fallback tiebreak instead of an opaque StopIteration.
    tiebreak = tiebreak or next(
        (c for c in right_cols if c != ts), ts
    )

    payload = F.struct(*[F.col(c) for c in right_cols]).alias("_p")
    r = right.select(
        F.col(key),
        F.col(ts).alias("_t"),
        F.lit(0).alias("_side"),
        F.col(tiebreak).alias("_tb"),
        payload,
    )
    l = left.select(
        F.col(key),
        F.col(ts).alias("_t"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(r.schema["_tb"].dataType).alias("_tb"),
        F.lit(None).cast(r.schema["_p"].dataType).alias("_p"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_l"),
    )
    u = r.select("*", F.lit(None).cast(l.schema["_l"].dataType).alias("_l")).unionByName(l)
    w = (
        Window.partitionBy(key)
        .orderBy(F.col("_t").asc(), F.col("_side").asc(), F.col("_tb").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = F.last("_p", ignorenulls=True).over(w)
    out = (
        u.withColumn("_m", matched)
        .filter(F.col("_side") == 1)
        .select("_l", "_m")
    )
    cols = [F.col(f"_l.{c}").alias(c) for c in left.columns]
    mcols = [F.col(f"_m.{c}").alias(f"matched_{c}") for c in right_cols]
    out = out.select(*cols, *mcols)
    if tolerance is not None:
        lag_ok = F.col(f"matched_{ts}") >= (F.col(ts) - tolerance)
        out = out.select(
            *[F.col(c) for c in left.columns],
            *[
                F.when(lag_ok, F.col(f"matched_{c}")).alias(f"matched_{c}")
                for c in right_cols
            ],
        )
    return out
