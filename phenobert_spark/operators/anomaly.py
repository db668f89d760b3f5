"""Event-stream anomaly detection: rolling z-scores over keyed
time-bucket counts — the monitoring pass a continuously-ingesting
pipeline runs over its own telemetry (ingest rates, error counts,
per-source volumes) to catch upstream breakage before it poisons a
training snapshot.

Scale shape: ONE keyed time-bucket aggregate over the corpus-sized
stream, then window arithmetic over the tiny (key x buckets) series —
partitions are bounded by the bucket count per key, never by event
volume. The statistics are computed from EXACT integer window sums
(sum, sum-of-squares, count) through a fixed IEEE expression rather
than an engine's streaming stddev aggregate, so every z-score is
bit-reproducible in any engine (q134's oracle re-derives them) — the
same cross-engine discipline as operators/sketches.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def hourly_count_anomalies(
    events: DataFrame,
    trailing: int = 24,
    z_thresh: float = 3.0,
    min_history: int = 6,
) -> DataFrame:
    """Per (key, hour): event count, trailing-window mean/std of the
    PREVIOUS ``trailing`` hourly counts, and the z-score of the
    current hour against that history. Returns (key, hour_start, n,
    mu, sigma, z, is_anomaly); hours with fewer than ``min_history``
    prior buckets, or zero variance, get z = null / is_anomaly = false
    (a constant series yields no evidence either way — flagging on
    sigma = 0 would alert on every first deviation of a quiet key).

    Variance uses the exact-sum identity on integer counts,
    var = (s2 - s1^2 / n) / (n - 1), clamped at zero against float
    cancellation — a fixed expression both engines evaluate
    identically, unlike engine-internal stddev accumulators.
    """
    hourly = (
        events.withColumn("_ts", F.col("ts").cast("timestamp"))
        .groupBy(
            F.col("event_type").alias("key"),
            F.unix_timestamp(F.date_trunc("hour", F.col("_ts"))).alias(
                "hour_start"
            ),
        )
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    w = (
        Window.partitionBy("key")
        .orderBy("hour_start")
        .rowsBetween(-trailing, -1)
    )
    if min_history < 2:
        raise ValueError("min_history must be >= 2 (variance needs n-1)")
    s1 = F.sum(F.col("n").cast("double")).over(w)
    s2 = F.sum((F.col("n") * F.col("n")).cast("double")).over(w)
    cnt = F.count("n").over(w).cast("double")
    # divisions guarded behind the history gate: ANSI mode turns the
    # empty-window cnt=0 division into a hard error, not a null
    hist = cnt >= F.lit(float(min_history))
    mu = F.when(hist, s1 / cnt)
    var = F.when(
        hist,
        F.greatest((s2 - s1 * s1 / cnt) / (cnt - F.lit(1.0)), F.lit(0.0)),
    )
    sigma = F.sqrt(var)
    stats = hourly.select(
        "key",
        "hour_start",
        "n",
        mu.alias("mu"),
        sigma.alias("sigma"),
        cnt.alias("_cnt"),
    )
    z = (F.col("n").cast("double") - F.col("mu")) / F.col("sigma")
    hist_ok = F.col("_cnt") >= min_history
    ok = hist_ok & (F.col("sigma") > 0)
    return stats.select(
        "key",
        "hour_start",
        "n",
        F.when(hist_ok, F.col("mu")).alias("mu"),
        F.when(hist_ok, F.col("sigma")).alias("sigma"),
        F.when(ok, z).alias("z"),
        F.coalesce(
            F.when(ok, F.abs(z) >= F.lit(float(z_thresh))), F.lit(False)
        ).alias("is_anomaly"),
    )
