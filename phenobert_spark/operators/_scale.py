"""Scale-adaptive parallelism helpers shared by the operator modules.

The sandbox's parquet fixtures are written as a SINGLE row group, so a
Spark scan of them is one task no matter how many cores the master
has — and any CPU-heavy per-row expression chain (shingling, md5,
vector math) then runs on 1 of N cores (guide §2.5 "input skew: one
huge unsplittable file ... repartition immediately after the read").

``fanout`` fixes exactly that case and nothing else: when the input
has fewer partitions than the session's default parallelism it
hash-repartitions on the given key columns (deterministic — no
round-robin, so no sort-before-repartition pass and no SPARK-38388
retry hazard); when the input is already at least as parallel as the
cluster (the 100-TB case: thousands of scan tasks) it is a no-op, so
production plans gain no extra exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def fanout(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition ``df`` to the session's parallelism iff it is
    under-partitioned for the cluster. Keyed (hash) repartition when
    ``keys`` given, round-robin otherwise.

    Scope: scan-level under-partitioning only. The probe reads the
    pre-AQE partition count of ``df.rdd`` (one extra planning pass),
    which for any input whose plan already ends in a shuffle is
    ``spark.sql.shuffle.partitions``, so on shuffled inputs this is a
    no-op even when AQE later coalesces them to fewer partitions than
    the cluster has cores."""
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, *keys) if keys else df.repartition(n)
