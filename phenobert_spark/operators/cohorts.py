"""Cohort retention analysis over the events stream.

The standard product-analytics rollup: bucket every user into the
period of their FIRST activity (the cohort), then for each later
period count how many of that cohort came back. Period arithmetic is
anchored on an explicit epoch date — never on runtime now() — so the
result is deterministic and cross-engine checkable (q197).

Scale shape: two shuffles, both textbook. (1) distinct (user,
period) and per-user min — keyed on the user, full map-side combine;
(2) the cohort×offset count — keyed on the (cohort, offset) pair,
cardinality = periods², broadcast-sized. The cohort-size join is a
broadcast. Nothing here is row-quadratic and no global sort exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def retention_cohorts(events: DataFrame) -> DataFrame:
    """(cohort_period, period_offset, n_users, cohort_size,
    retention) — one row per cohort × offset actually observed.
    ``cohort_period`` = floor(days since 2024-01-01 / 7) of the
    user's first event; ``retention`` = n_users / cohort_size
    rounded to 6 places (offset 0 is 1.0 by construction)."""
    period = F.floor(
        F.datediff(F.to_date(F.col("ts")), F.to_date(F.lit("2024-01-01")))
        / 7
    )
    uw = (
        events.select(
            F.col("user_id").alias("_u"), period.alias("_p")
        )
        .distinct()
    )
    cohorts = uw.groupBy("_u").agg(F.min("_p").alias("cohort_period"))
    sizes = cohorts.groupBy("cohort_period").agg(
        F.count("*").alias("cohort_size")
    )
    per_offset = (
        uw.join(cohorts, on="_u")
        .groupBy(
            "cohort_period",
            (F.col("_p") - F.col("cohort_period")).alias("period_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )
    return (
        per_offset.join(F.broadcast(sizes), on="cohort_period")
        .select(
            "cohort_period",
            "period_offset",
            "n_users",
            "cohort_size",
            F.round(F.col("n_users") / F.col("cohort_size"), 6).alias(
                "retention"
            ),
        )
    )
