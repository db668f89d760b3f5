"""Temporal-interval algebra for fact tables: coalescing validity
intervals and joining on interval overlap WITHOUT a range/theta join.

A knowledge graph built from snapshots carries (entity, fact,
valid_from, valid_to) rows (q143 derives them; q158 time-travels
them); two maintenance queries recur at corpus scale:

* **coalesce**: the same fact re-asserted across consecutive
  snapshots yields abutting/overlapping validity rows that must merge
  into maximal intervals before storage or diffing — the classic
  gaps-and-islands reduction.
* **overlap join**: "which facts/events were simultaneously valid"
  (co-occurrence in time, conflict detection, concurrent-session
  attribution). The naive formulation is a theta join
  (``l.start < r.end AND r.start < l.end``) which Spark executes as a
  broadcast nested loop — quadratic and undistributable. The scale
  form here tiles time into fixed buckets and equi-joins on
  (key, bucket), the standard 1-D spatial-join grid trick.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def coalesce_intervals(
    df: DataFrame,
) -> DataFrame:
    """Merge overlapping or abutting half-open intervals per key into
    maximal islands: rows i and j merge iff some chain of intervals
    connects them with ``next.start <= running_max(end)`` (touching
    intervals — end == next start — merge, matching snapshot
    semantics where valid_to of one row is valid_from of the next).

    Returns (key, start, end, n_rows) with one row per island,
    n_rows = how many input rows collapsed into it.

    One exchange: a window per key ordered by (start, end) computes
    the running max of end over PRECEDING rows; a new island begins
    where start exceeds it; the island id is a running sum of those
    flags on the same window spec (Spark reuses the sort), and the
    final groupBy((key, island)) is map-side combinable. Per-key work
    is an ordered scan, so the only skew risk is a hot key — the same
    row every per-key window in this engine carries (spans.py J3/J4),
    bounded by that key's fact count, not the corpus.
    """
    w = Window.partitionBy("key").orderBy(F.col("start").asc(), F.col("end").asc())
    prev_max = F.max(F.col("end")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = df.select(
        F.col("key"),
        F.col("start"),
        F.col("end"),
        F.when(
            prev_max.isNull() | (F.col("start") > prev_max), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("_new_island"),
    ).withColumn("_island", F.sum("_new_island").over(w))
    return (
        flagged.groupBy("key", "_island")
        .agg(
            F.min("start").alias("start"),
            F.max("end").alias("end"),
            F.count("*").cast("bigint").alias("n_rows"),
        )
        .select("key", "start", "end", "n_rows")
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    bucket: int = 3600,
    max_buckets_per_interval: int = 1000,
) -> DataFrame:
    """All pairs of half-open intervals (one from each side, same
    key) that overlap: ``l.start < r.end AND r.start < l.end``.
    Returns (key, left_id, right_id, overlap_start, overlap_end).

    Grid equi-join, never a theta join: each interval explodes into
    the fixed-width time buckets it touches (``floor(start/bucket)``
    .. ``floor((end-1)/bucket)`` — half-open, so an interval ending
    exactly on a boundary does NOT enter the next bucket), the sides
    equi-join on (key, bucket) — a plain shuffled/broadcast hash join
    Catalyst can plan — and a distinct + exact-predicate filter
    removes the multi-bucket double-counts and same-bucket non-
    overlaps. Fan-out per row is ceil(span/bucket), so ``bucket``
    should sit near the median span; ``max_buckets_per_interval``
    refuses degenerate configurations (a year-long interval on a
    1-second grid) instead of silently exploding — repartition-range
    or split such outliers first, or raise the bucket size.

    The brute theta form exists only as this operator's test/contract
    oracle (q188), the same twin discipline as q33/q35.
    """
    if bucket < 1:
        raise ValueError("bucket must be >= 1")

    def tiled(df: DataFrame, side: str) -> DataFrame:
        lo = F.floor(F.col("start") / bucket)
        hi = F.floor((F.col("end") - 1) / bucket)
        n_buckets = hi - lo + 1
        guarded = df.select(
            F.col("key"),
            F.col("id").alias(f"{side}_id"),
            F.col("start").alias(f"{side}_start"),
            F.col("end").alias(f"{side}_end"),
            lo.alias("_lo"),
            hi.alias("_hi"),
            n_buckets.alias("_n"),
        ).filter(F.col("start") < F.col("end"))
        # The guard must sit inside a column the plan actually consumes
        # (a free-standing asserted column gets pruned by Catalyst): fold
        # it into _lo via coalesce — assert_true yields NULL when the
        # bound holds, so coalesce passes _lo through; when it doesn't,
        # the row fails the job loudly on the executor, no collect.
        guard = F.assert_true(
            F.col("_n") <= max_buckets_per_interval,
            F.concat(
                F.lit("interval spans too many buckets (raise bucket "
                      "or split the interval): id="),
                F.col(f"{side}_id").cast("string"),
            ),
        )
        lo_guarded = F.coalesce(guard.cast("bigint"), F.col("_lo"))
        return guarded.select(
            "key",
            f"{side}_id",
            f"{side}_start",
            f"{side}_end",
            F.explode(
                F.sequence(lo_guarded, F.col("_hi"))
            ).alias("_cell"),
        )

    l = tiled(left, "left")
    r = tiled(right, "right")
    return (
        l.join(r, on=["key", "_cell"])
        .filter(
            (F.col("left_start") < F.col("right_end"))
            & (F.col("right_start") < F.col("left_end"))
        )
        .select(
            "key",
            "left_id",
            "right_id",
            F.greatest("left_start", "right_start").alias("overlap_start"),
            F.least("left_end", "right_end").alias("overlap_end"),
        )
        .distinct()
    )
