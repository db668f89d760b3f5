"""Data-layout clustering keys: Z-order (Morton) interleaving.

At 100 TB the dominant cost of most queries is the SCAN, and the
lever on scan cost is file-level data skipping: parquet/Iceberg
min-max zone maps prune files only if rows correlated on the filter
columns are physically co-located. Sorting clusters one column;
Z-ORDERING clusters several at once — interleave the bits of the
(quantized) key columns and range-partition the write on the
interleaved key, and a predicate on ANY prefix dimension prunes
~sqrt-style instead of not at all. This is the layout strategy
Iceberg's rewrite-with-zorder and Delta's OPTIMIZE ZORDER BY apply;
here it is a pure Column expression so the engine can cluster its
triple/edge tables before materialization (materialize.py sinks).

``morton_key`` is static bit algebra (2·bits shift-and-mask terms,
whole-stage codegen, no UDF); ``assign_zorder_files`` shows both the
contract-deterministic form (global ntile — exact, single-sort, used
by q196's oracle twin) and the scale form (``repartitionByRange`` on
the key, which samples instead of globally sorting).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def morton_key(x: Column, y: Column, bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of two non-negative ints:
    x owns odd bit positions, y even — bit i of x lands at 2i+1,
    bit i of y at 2i. Callers quantize/clamp first (``% 2**bits`` or
    a width_bucket); 2·16 bits fits comfortably in a long."""
    acc: Column = F.lit(0).cast("long")
    for i in range(bits):
        acc = (
            acc
            + F.shiftleft(F.shiftright(x.cast("long"), i).bitwiseAND(1), 2 * i + 1)
            + F.shiftleft(F.shiftright(y.cast("long"), i).bitwiseAND(1), 2 * i)
        )
    return acc


def assign_zorder_files(
    df: DataFrame,
    id_col: str,
    n_files: int = 64,
    exact: bool = True,
) -> DataFrame:
    """Attach a target file number to every row by Z-key range.

    ``exact=True`` (contract/determinism form): global
    ``ntile(n_files)`` over (zkey, id) — one total sort, only for
    small-to-medium outputs and cross-engine tests. ``exact=False``
    (scale form): ``repartitionByRange(n_files, zkey, id)`` +
    ``spark_partition_id()`` — sampled range boundaries, no global
    sort, the form a 10^12-row write actually uses (boundaries then
    differ run-to-run, which is why the contract pins the ntile
    twin)."""
    if exact:
        w = Window.orderBy(F.col("zkey"), F.col(id_col))
        return df.withColumn("file_id", F.ntile(n_files).over(w))
    parts = df.repartitionByRange(n_files, F.col("zkey"), F.col(id_col))
    return parts.withColumn("file_id", F.spark_partition_id() + 1)


def zone_map_stats(
    df: DataFrame, file_col: str, value_col: str
) -> DataFrame:
    """Per-file min/max zone map for one column — what a parquet
    footer / Iceberg manifest stores. One map-side-combinable
    aggregate; output cardinality = file count."""
    return df.groupBy(F.col(file_col).alias("file_id")).agg(
        F.min(value_col).alias("vmin"), F.max(value_col).alias("vmax")
    )


def scan_counts(zones: DataFrame, ranges: DataFrame) -> DataFrame:
    """For each predicate range (``range_id``, ``lo``, ``hi``): the
    number of files whose [vmin, vmax] zone overlaps it — i.e. the
    files a zone-map-pruned scan must actually read. ``zones`` is
    file-count-sized and broadcast; the join is range-count x
    file-count, both tiny metadata tables. This is the planner-side
    arithmetic that quantifies a layout (q201 uses it to show Z-order
    beating insertion order on the same predicates)."""
    return (
        ranges.join(
            F.broadcast(zones),
            on=(F.col("vmin") <= F.col("hi")) & (F.col("vmax") >= F.col("lo")),
            how="left",
        )
        .groupBy("range_id", "lo", "hi")
        .agg(F.count("file_id").alias("files_scanned"))
    )
