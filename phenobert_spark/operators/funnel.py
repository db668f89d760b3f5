"""Ordered funnel analysis over an event stream.

The product-analytics classic (ClickHouse ``windowFunnel``, Amplitude
funnels): given an ordered list of stages, find for every user the
first time each stage was reached STRICTLY AFTER the previous stage's
matched time — i.e. the stages must occur in order, not merely all
occur.

Scale plan: stage k is one equi-join on the user key against the
stage-(k-1) match frame plus one keyed min-aggregate — k small and
fixed, every shuffle keyed on the user, so consecutive stages
co-partition and the event table is scanned once per stage with the
stage-type filter pushed to the scan. No window over the full event
table, no per-row Python. The alternative single-pass
sort-within-user formulation needs the whole event history in one
window partition per user — strictly worse under hot-user skew.

With ``max_span`` the match frame is keyed on (user, anchor) — one
row per stage-1 event rather than per user (the ClickHouse
windowFunnel semantics require trying every window start), and a
final per-user row_number window picks the deepest chain. That
window partitions over anchor rows, not raw events, so hot-user cost
scales with their stage-1 count only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def funnel(
    events: DataFrame,
    stages: list[str],
    max_span=None,
) -> DataFrame:
    """Per-user funnel match times: one row per user who reached
    stage 1, with columns ``t1..tk`` (timestamp of the first in-order
    match per stage, NULL once the funnel is abandoned).

    ``max_span``: optional Column interval (e.g.
    ``F.expr("INTERVAL 1 HOUR")``); later stages must match within
    ``anchor + max_span`` where the anchor may be ANY stage-1 event of
    the user, not only the earliest (the ClickHouse windowFunnel
    semantics: a user whose first window fails but whose later stage-1
    event opens a completing window still converts). Per user the
    deepest chain wins; the earliest anchor breaks depth ties.
    """
    if not stages:
        raise ValueError("funnel needs at least one stage")
    stage1 = events.filter(F.col("event_type") == stages[0])
    if max_span is None:
        # No window constraint: the earliest stage-1 event dominates
        # every later anchor (each chained min is monotone in the
        # previous match time), so one anchor per user is exact.
        out = stage1.groupBy(F.col("user_id").alias("user_id")).agg(
            F.min("ts").alias("t1")
        )
        anchor_keys = ["user_id"]
    else:
        # Windowed: every stage-1 event is a candidate anchor. Work per
        # stage join scales with stage-1 multiplicity instead of user
        # count — still keyed on the user, so co-partitioning across
        # stages is preserved; hot users with many anchors are the same
        # rows a per-user sort-window would have concentrated anyway.
        out = stage1.select(
            F.col("user_id").alias("user_id"), F.col("ts").alias("t1")
        ).distinct()
        anchor_keys = ["user_id", "t1"]
    for k, stage in enumerate(stages[1:], start=2):
        ev = events.filter(F.col("event_type") == stage).select(
            F.col("user_id").alias("user_id"), F.col("ts").alias("_t")
        )
        cond = F.col("_t") > F.col(f"t{k - 1}")
        if max_span is not None:
            cond = cond & (F.col("_t") <= F.col("t1") + max_span)
        nxt = (
            ev.join(
                out.select(
                    *dict.fromkeys(["user_id", "t1", f"t{k - 1}"])
                ),
                on="user_id",
            )
            .filter(cond)
            .groupBy(*anchor_keys)
            .agg(F.min("_t").alias(f"t{k}"))
        )
        out = out.join(nxt, on=anchor_keys, how="left")
    if max_span is not None:
        from pyspark.sql import Window

        depth = sum(
            F.when(F.col(f"t{k}").isNotNull(), 1).otherwise(0)
            for k in range(1, len(stages) + 1)
        )
        w = Window.partitionBy("user_id").orderBy(
            depth.desc(), F.col("t1").asc()
        )
        out = (
            out.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    return out
