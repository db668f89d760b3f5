"""Shuffle-planning diagnostics: key-skew profiling.

Before a 100-TB join or aggregation ships, the question is always
"how skewed is the key?" — one hot key turns a 1000-executor shuffle
into a single straggler task. The engine's own pipeline answers it
structurally (skew-chunking in ``corpus.chunked``, salting hooks,
AQE skew-join backstop); this module is the MEASUREMENT side: a
one-pass profile of a prospective shuffle key that reports the heavy
hitters with their cumulative row share, which is exactly the number
the salting decision needs ("the top 8 keys carry 31% of rows →
salt them 16 ways").

Scale shape: one map-side-combinable count aggregate on the key
(the same shuffle the diagnosed join would do, but carrying an 8-byte
count instead of the payload), then an ORDER-BY-count top-N that
Catalyst executes as TakeOrderedAndProject (per-partition heaps, no
single-reducer global sort — the q130 BM25 property). The cumulative
share needs a window over only the N retained rows, driver-bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def key_skew_profile(df: DataFrame, key_cols: list[str], top_n: int = 20) -> DataFrame:
    """Top-``top_n`` keys by row count with per-key and cumulative
    row share in parts-per-million (integer ppm keeps the contract
    cross-engine exact — no float division ordering to disagree on).

    Returns (rank, key, cnt, share_ppm, cum_share_ppm) ordered by
    rank; ``key`` is the \\x01-joined composite key — the \\x01
    separator keeps composite keys unambiguous (plain
    concatenation would collide ("1", "2x") with ("12", "x")). Ties
    on count break by key string so the profile is deterministic.
    """
    if not key_cols:
        raise ValueError("key_skew_profile needs at least one key column")
    total = df.count()
    if total == 0:
        raise ValueError("cannot profile an empty frame")
    key = F.concat_ws(
        "\x01", *[F.col(c).cast("string") for c in key_cols]
    ).alias("key")
    counts = (
        df.select(key)
        .groupBy("key")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("key").asc())
        .limit(top_n)
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("key").asc())
    return counts.select(
        F.row_number().over(w).alias("rank"),
        "key",
        "cnt",
        # floor(), not cast: IEEE division is identically rounded on
        # every engine, but double->int CAST truncates on Spark and
        # rounds on DuckDB — floor is the portable integer share.
        F.floor(F.col("cnt") * 1000000 / total).cast("bigint").alias("share_ppm"),
        F.floor(F.sum("cnt").over(w) * 1000000 / total)
        .cast("bigint")
        .alias("cum_share_ppm"),
    ).orderBy("rank")
