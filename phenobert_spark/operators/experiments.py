"""Experiment analytics and recency-weighted engagement features.

Two shapes every event-stream consumer eventually asks for:

* :func:`ab_test_report` — per-variant conversion with the classic
  two-proportion pooled z statistic against control variant A: the
  readout of an A/B experiment. The user's variant comes from
  wherever the caller derives it (typically the engine's
  deterministic md5 hash-split, operators/sampling.hash_split, so
  assignment is reproducible across engines and re-runs).
* :func:`decayed_counts` — exponential time-decay aggregates
  (half-life form) per key: the standard recency-weighted activity
  feature. The decay is anchored on an EXPLICIT timestamp, never
  runtime now(), which makes the weight a pure per-row function —
  so the aggregate stays fully map-side combinable (each partition
  sums its own weighted rows; no ordered state, unlike a running
  EWMA) and the result is deterministic/backfillable.

Scale shape: both are single keyed aggregations with map-side
combine; the A/B report's per-variant table is variant-cardinality
sized and the control join is a broadcast of one row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ab_test_report(assignments: DataFrame) -> DataFrame:
    """Per-variant conversion readout from one row per experimental
    unit (user): ``(variant, n_users, n_conv, rate, lift_vs_control,
    z_vs_control)``, rates rounded to 6. ``z_vs_control`` is the
    pooled two-proportion z statistic (the control row itself reads
    0); variant ``A`` is the control, and it raises if ``A`` is absent
    from the data."""
    g = assignments.groupBy(F.col("variant").alias("variant")).agg(
        F.count("*").alias("n_users"),
        F.sum(F.col("converted").cast("long")).alias("n_conv"),
    )
    ctrl = g.filter(F.col("variant") == "A").select(
        F.col("n_users").alias("_cn"), F.col("n_conv").alias("_cc")
    )
    if ctrl.isEmpty():
        raise ValueError("control variant 'A' not present")
    j = g.crossJoin(F.broadcast(ctrl))
    p = F.col("n_conv") / F.col("n_users")
    pc = F.col("_cc") / F.col("_cn")
    pooled = (F.col("n_conv") + F.col("_cc")) / (
        F.col("n_users") + F.col("_cn")
    )
    se = F.sqrt(
        pooled * (1 - pooled) * (1 / F.col("n_users") + 1 / F.col("_cn"))
    )
    # se == 0 (all or none converted in both arms) makes z undefined;
    # report 0 rather than erroring under ANSI division.
    z = F.when(
        (F.col("variant") == "A") | (se == 0), F.lit(0.0)
    ).otherwise((p - pc) / se)
    return j.select(
        "variant",
        "n_users",
        "n_conv",
        F.round(p, 6).alias("rate"),
        F.round(
            # pc == 0 (control arm with zero conversions) makes the
            # lift undefined; report NULL rather than erroring under
            # ANSI division, mirroring the se == 0 guard on z.
            F.when(F.col("variant") == "A", F.lit(0.0)).when(
                pc > 0, p / pc - 1
            ),
            6,
        ).alias("lift_vs_control"),
        F.round(z, 6).alias("z_vs_control"),
    )


def decayed_counts(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    anchor: str = "2024-02-01",
    half_life_days: float = 7.0,
    value_col: str | None = None,
) -> DataFrame:
    """Per-key exponentially time-decayed aggregates:
    ``decayed_n = Σ 0.5^(age_days / half_life)`` and (when
    ``value_col`` given) ``decayed_value`` likewise weighted.
    ``age_days`` = days from the event to the explicit ``anchor``
    date (fractional); future events relative to the anchor are
    excluded rather than up-weighted. One keyed aggregate, map-side
    combinable — the weight is a pure per-row function because the
    anchor is pinned."""
    # cast(timestamp as double) keeps sub-second precision (micros/1e6),
    # matching DuckDB's epoch_us()/1e6 — unix_timestamp would truncate.
    # NTZ timestamps refuse a direct double cast; the intermediate
    # cast("timestamp") is identity for LTZ and session-UTC for NTZ
    # (config.get_spark pins spark.sql.session.timeZone=UTC).
    age_days = (
        F.to_timestamp(F.lit(anchor)).cast("double")
        - F.col(ts_col).cast("timestamp").cast("double")
    ) / 86400.0
    w = F.pow(F.lit(0.5), age_days / half_life_days)
    f = events.filter(age_days >= 0)
    aggs = [F.round(F.sum(w), 6).alias("decayed_n")]
    if value_col is not None:
        aggs.append(
            F.round(F.sum(w * F.col(value_col)), 6).alias("decayed_value")
        )
    return f.groupBy(F.col(key_col).alias("key")).agg(*aggs)
