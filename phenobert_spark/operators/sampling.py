"""Deterministic sampling / split assignment for training-data
pipelines.

At 100 TB a train/val/test split must be (a) a pure function of the
row key — re-runs, backfills and late-arriving shards land in the same
split with no coordination, (b) computed JVM-side in one narrow pass
(no shuffle, no RNG state on executors), and (c) reproducible outside
Spark so downstream consumers can verify membership.

Both operators hash the key with md5 and compare the first 8 hex
digits AS A STRING against hex thresholds. md5 hex is uniform per
nibble and lowercase in every engine, so lexicographic comparison is
an exact, portable uniform draw in [0, 1) with 2^-32 granularity —
the same predicate runs verbatim in DuckDB/Trino/Postgres for audit
(the q99 driver oracle does exactly that). ``F.rand(seed)`` is
rejected here on purpose: it is seeded per-PARTITION, so any
repartition or input-split change reshuffles every row's draw.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SPACE = 16**8  # first 8 hex digits of md5


def _hex_threshold(cum: float) -> str:
    """Cumulative probability -> 8-digit lowercase hex cutoff."""
    return format(min(int(cum * _SPACE), _SPACE - 1), "08x")


def _bucket(key: Column, salt: str) -> Column:
    return F.substring(F.md5(F.concat(key.cast("string"), F.lit(salt))), 1, 8)


def hash_split(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split with probability proportional
    to ``weights`` (normalized), as a pure function of (id, salt).

    One narrow projection — no shuffle, no UDF; ``salt`` derives
    independent re-splits from the same keys (epoch-level resampling
    without touching the data).
    """
    total = sum(weights.values())
    if total <= 0:
        raise ValueError("weights must sum to a positive value")
    names = list(weights)
    bucket = _bucket(F.col(id_col), salt)
    cum = 0.0
    expr = None
    for name in names[:-1]:
        cum += weights[name] / total
        cond = bucket < F.lit(_hex_threshold(cum))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (
        F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    )
    return df.withColumn(out_col, expr)


def stratified_split(
    df: DataFrame,
    weights: dict[str, float],
    strata_col: str,
) -> DataFrame:
    """EXACT stratified split: within every stratum the split sizes
    match the weight proportions to within one row (prefix sizes are
    ceil(cum_weight * stratum_size) minus the previous prefix) — unlike
    :func:`hash_split`, whose proportions are only correct in
    expectation and can wobble inside small strata.

    Deterministic: rows rank within their stratum by (md5 bucket, id)
    — a pure function of the data — and ranks map to splits by
    cumulative-weight thresholds on rank/stratum_size. Cost: one
    shuffle on the stratum key (the rank and the stratum size share
    the same window exchange). Use hash_split when strata are huge and
    a shuffle-free plan matters more than exact proportions."""
    from pyspark.sql import Window

    total = sum(weights.values())
    if total <= 0:
        raise ValueError("weights must sum to a positive value")
    names = list(weights)
    w = Window.partitionBy(strata_col).orderBy(
        _bucket(F.col("doc_id"), ""), F.col("doc_id")
    )
    wc = Window.partitionBy(strata_col)
    frac = (F.row_number().over(w) - F.lit(1)) / F.count("*").over(wc)
    cum = 0.0
    expr = None
    for name in names[:-1]:
        cum += weights[name] / total
        cond = frac < F.lit(cum)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn("split", expr)


def pack_sequences(
    df: DataFrame,
    capacity: int,
    n_buckets: int | None = None,
) -> DataFrame:
    """Assign documents to fixed-capacity training sequences
    (first-fit-decreasing bin packing), deterministically.

    Returns (id, size, bucket, bin, offset): ``(bucket, bin)`` is the
    global sequence key; ``offset`` is the document's token start
    inside it. Documents larger than ``capacity`` get a bin of their
    own (callers chunk or drop them — flagged by size > capacity).

    Scale shape: global optimal bin packing is NP-hard and inherently
    serial, so the standard distributed form is used — rows are
    hash-bucketed by key (same portable md5 predicate as
    :func:`hash_split`, so the layout is reproducible in any engine),
    and each bucket packs INDEPENDENTLY with first-fit-decreasing
    inside one ``applyInPandas`` group. Waste is bounded by one
    partial bin per bucket (FFD itself guarantees <= 11/9 OPT + 1 bins
    per bucket); more buckets = more parallelism, marginally more
    boundary waste. Deterministic: bucket = pure hash of the id, and
    packing order inside a bucket is (size desc, id asc)."""
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    if n_buckets is None:
        n_buckets = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    bucket = F.pmod(
        F.conv(_bucket(F.col("doc_id"), ""), 16, 10).cast("bigint"),
        F.lit(n_buckets),
    )
    out_schema = StructType(
        [
            StructField("id", LongType(), False),
            StructField("size", LongType(), False),
            StructField("bucket", LongType(), False),
            StructField("bin", LongType(), False),
            StructField("offset", LongType(), False),
        ]
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["_size", "_id"], ascending=[False, True]
        ).reset_index(drop=True)
        fills: list[int] = []  # current fill per bin
        bins: list[int] = []
        offs: list[int] = []
        for sz in pdf["_size"]:
            sz = int(sz)
            for bi, fill in enumerate(fills):
                if fill + sz <= capacity:
                    bins.append(bi)
                    offs.append(fill)
                    fills[bi] = fill + sz
                    break
            else:
                bins.append(len(fills))
                offs.append(0)
                fills.append(sz)
        return pd.DataFrame(
            {
                "id": pdf["_id"],
                "size": pdf["_size"],
                "bucket": pdf["_bucket"],
                "bin": bins,
                "offset": offs,
            }
        )

    rows = df.select(
        F.col("doc_id").cast("bigint").alias("_id"),
        F.col("n_tokens").cast("bigint").alias("_size"),
        bucket.alias("_bucket"),
    )
    return rows.groupBy("_bucket").applyInPandas(pack, out_schema)


def hash_sample(
    df: DataFrame,
    fraction: float,
    salt: str = "",
) -> DataFrame:
    """Keep ~``fraction`` of rows, deterministically by key: the same
    row is kept in every run, engine, and partitioning. The filter is
    a narrow JVM predicate fused into the scan's codegen stage (it
    cannot reach the parquet reader — md5 is a derived expression —
    but rows drop before anything wide happens)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    if fraction == 1.0:
        return df
    return df.filter(
        _bucket(F.col("doc_id"), salt) < F.lit(_hex_threshold(fraction))
    )


def mixture_sample(
    df: DataFrame,
    alpha: float = 0.5,
    sample_frac: float = 0.5,
) -> DataFrame:
    """Temperature-based mixture sampling — the LLM data-mixing
    recipe (multilingual-BERT / XLM-R exponential smoothing): draw a
    corpus-level ``sample_frac`` of rows with per-group rates
    proportional to the FLATTENED group weights ``n_g^alpha / sum
    n_h^alpha``, so ``alpha < 1`` up-samples small sources and
    down-samples dominant ones.

    Appends ``mix_w`` (flattened weight), ``p_keep`` (per-group keep
    probability, ``min(1, sample_frac * N * w_g / n_g)`` — a group too
    small for its target keeps everything; without replacement the
    excess mass is NOT redistributed, so the realized total can fall
    short when groups saturate), and ``keep`` — the same
    md5-hex-threshold draw as :func:`hash_split`, a pure function of
    the id, re-runnable and auditable in any engine. ``p_keep`` is
    rounded to 6 decimals BEFORE the threshold is derived so both
    engines floor the identical number (double summation order differs
    across engines at the last ulp).

    Plan: one tiny group aggregate + a broadcast of one row per group
    joined back — the corpus-sized pass stays narrow; no shuffle of
    ``df`` itself, no RNG state.
    """
    stats = df.groupBy("source").agg(F.count("*").alias("_n_g"))
    tot = stats.agg(
        F.sum(F.pow(F.col("_n_g").cast("double"), F.lit(float(alpha)))).alias("_z"),
        F.sum("_n_g").cast("double").alias("_n_total"),
    )
    w = F.pow(F.col("_n_g").cast("double"), F.lit(float(alpha))) / F.col("_z")
    p = F.round(
        F.least(
            F.lit(1.0),
            F.lit(float(sample_frac)) * F.col("_n_total") * w / F.col("_n_g"),
        ),
        6,
    )
    stats = stats.crossJoin(F.broadcast(tot)).select(
        "source", w.alias("mix_w"), p.alias("p_keep")
    )
    thr = F.lower(
        F.lpad(
            F.hex(
                F.least(
                    F.floor(F.col("p_keep") * F.lit(float(_SPACE))),
                    F.lit(_SPACE - 1),
                ).cast("bigint")
            ),
            8,
            "0",
        )
    )
    return df.join(F.broadcast(stats), on="source").withColumn(
        "keep", _bucket(F.col("doc_id"), "") < thr
    )


def weighted_order_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Weighted random sample of ``k`` rows (per group, if
    ``group_cols``) by sequential Poisson / order sampling (Ohlsson
    1998, the survey-sampling relative of Efraimidis-Spirakis
    reservoir WRS): each row draws a deterministic uniform
    ``u = (h + 1) / 2^32`` from the md5 of its id and is ranked by the
    priority ``u / w`` — the k SMALLEST priorities win, so inclusion
    probability is approximately proportional to weight.

    Chosen over the textbook ``u^(1/w)`` exponent form deliberately:
    the priority here is two IEEE divisions — no libm pow/ln — so
    every engine computes the bit-identical double and the SELECTED
    SET (not just its distribution) is reproducible anywhere, the
    property the q125 oracle value-checks. Ties are broken by id.

    Plan: the priority is a narrow projection; per-group top-k is the
    W1 window pattern (rank inside the group), global top-k is a
    TakeOrdered — no full sort of the corpus either way. Weights must
    be strictly positive (raises otherwise on the driver-side check
    that the cheapest invalid-weight probe allows: a lazy filter would
    silently drop rows instead).
    """
    if k <= 0:
        raise ValueError("k must be positive")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(""))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    u = (h + F.lit(1)).cast("double") / F.lit(float(_SPACE))
    priority = u / F.col(weight_col).cast("double")
    base = df.withColumn("priority", priority)
    guarded = base.withColumn(
        "priority",
        F.when(
            F.col(weight_col).cast("double") > 0, F.col("priority")
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("weighted_order_sample: non-positive weight for id "),
                    F.col("doc_id").cast("string"),
                )
            ).cast("double")
        ),
    )
    if group_cols:
        from pyspark.sql import Window

        w = Window.partitionBy(*group_cols).orderBy(
            "priority", F.col("doc_id")
        )
        return (
            guarded.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .drop("_rn")
        )
    return guarded.orderBy("priority", F.col("doc_id")).limit(k)


def rendezvous_assign(
    df: DataFrame,
    n_shards: int,
    out_col: str = "shard",
) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment (Thaler &
    Ravishankar 1996): every key goes to the shard with the highest
    md5(key # shard) score. The property that matters at corpus scale
    is MINIMAL MOVEMENT under elastic resharding: growing n -> n+1
    moves exactly the keys whose new shard wins the argmax —
    1/(n+1) of the corpus in expectation — while modulo hashing
    (key % n) reshuffles almost everything. That is how a 100-TB
    layout adds capacity without a full rewrite, and the assignment
    stays a pure function of the key: any engine re-derives it
    (q136's oracle does), shards can be audited independently, and a
    backfill lands rows exactly where the original run put them.

    One narrow projection — the argmax folds an n_shards-literal
    struct array per row JVM-side (sensible for n up to a few
    thousand shards; no shuffle, no UDF, no RNG).
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    key = F.col("doc_id").cast("string")
    scored = F.transform(
        F.sequence(F.lit(0), F.lit(n_shards - 1)),
        lambda i: F.struct(
            F.substring(
                F.md5(
                    F.concat(key, F.lit("#"), i.cast("string"))
                ),
                1,
                8,
            ).alias("s"),
            i.alias("i"),
        ),
    )
    # struct max = lexicographic (score, shard): md5-score ties (a
    # 2^-32 event) resolve to the larger shard id, mirrored in the
    # oracle's ORDER BY s DESC, i DESC
    return df.withColumn(out_col, F.array_max(scored).getField("i"))
