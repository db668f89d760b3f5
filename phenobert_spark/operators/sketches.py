"""Deterministic, mergeable sketches for corpus-scale statistics.

Exact ``COUNT(DISTINCT ...)`` and exact percentiles (q10 / q104) are
the correctness baselines, but at 100 TB both force a full shuffle of
the key space (distinct) or a per-group sort (percentile). The sketch
family here is the scale path: ONE narrow pass, fixed memory per
group, and map-side combinable partials (max / count by bucket), so
the wire cost is O(groups x registers), independent of corpus size.
Sketches of shards merge by the same max/sum, which is what a
1000-executor rollup or a cross-day incremental stat actually needs.

Unlike library sketches (Spark's HLL++ / DuckDB's approx_count_
distinct), every hash here derives from md5 of the key string, so the
IDENTICAL register values and estimates are reproducible in any
engine — the same portability property as :mod:`sampling`'s split
thresholds, and what lets the driver value-check the sketch (q120 /
q121) instead of merely bounding its error.

Analog in the reference: PhenoBERT computes corpus-level term
statistics eagerly in one process (reference ``util.py`` builds whole
dict/statistic tables in memory); this module is the distributed
re-expression of "corpus statistic at a glance" for inputs that no
longer fit one process.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _md5_u32(key: Column, salt: str = "") -> Column:
    """First 8 hex digits of md5(key || salt) as a uniform 32-bit
    unsigned integer (bigint-typed). Matches the DuckDB expression
    ``('0x' || substr(md5(key || salt), 1, 8))::BIGINT`` digit for
    digit, which is what makes the sketch cross-engine exact."""
    return F.conv(
        F.substring(F.md5(F.concat(key.cast("string"), F.lit(salt))), 1, 8),
        16,
        10,
    ).cast("bigint")


def hll_registers(
    df: DataFrame,
    key_col: str,
    group_cols: list[str],
    p: int = 9,
) -> DataFrame:
    """HyperLogLog register table: (group..., bucket, rho) where
    ``bucket`` is the top ``p`` bits of the 32-bit key hash and
    ``rho`` is max over keys of (leading zeros of the remaining
    ``32 - p`` bits) + 1 (Flajolet et al. 2007).

    Duplicates need NO pre-distinct: a repeated key hashes to the same
    (bucket, rho), and max absorbs it — that is the whole point of the
    sketch. The aggregate is map-side combinable, and register tables
    from disjoint shards merge by the same groupBy-max, so incremental
    /multi-day rollups never touch raw keys again.

    ``rho`` is computed from the binary-string length of the residual
    (both engines' ``bin()`` renders a positive integer with no
    leading zeros), an integer-exact formulation that evaluates
    identically in Spark and DuckDB (no float log2 at the
    powers-of-two boundaries).
    """
    if not 4 <= p <= 16:
        raise ValueError("p must be in [4, 16]")
    w = 32 - p
    h = _md5_u32(F.col(key_col))
    bucket = F.floor(h / F.lit(float(1 << w))).cast("int")
    rest = h % F.lit(1 << w)
    rho = (
        F.when(rest == 0, F.lit(w + 1))
        .otherwise(F.lit(w + 1) - F.length(F.bin(rest)))
        .cast("int")
    )
    return (
        df.select(*group_cols, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_distinct(
    df: DataFrame,
    key_col: str,
    group_cols: list[str],
    p: int = 9,
) -> DataFrame:
    """Per-group approximate distinct count from the deterministic HLL
    register table. Returns (group..., n_buckets, n_zero, est_raw,
    est) where ``est`` applies the standard small-range linear-
    counting correction (est_raw <= 2.5m with empty registers ->
    m * ln(m / n_zero)).

    Determinism across engines: every 2^-rho term is an exact binary
    fraction and the running sums stay within double's 53-bit window
    (terms >= 2^-24, totals <= 2^p), so the harmonic sum is EXACTLY
    the same double in any summation order — the one place float
    reduction order usually breaks cross-engine parity is provably
    order-free here. The only libm call (ln) enters only the corrected
    estimate.

    Plan: two keyed aggregates, both combiner-friendly; nothing
    proportional to |df| crosses the wire after the first partial max.
    """
    regs = hll_registers(df, key_col, group_cols, p=p)
    return hll_estimate_from_registers(regs, group_cols, p=p)


def hll_estimate_from_registers(
    regs: DataFrame, group_cols: list[str], p: int = 9
) -> DataFrame:
    """Estimate stage of :func:`hll_distinct`, exposed separately so
    operators that BUILD register tables some other way (e.g.
    kg_metrics.hyperball, which unions registers along graph edges)
    share the exact same harmonic-sum + linear-counting arithmetic.
    Input: (group..., bucket, rho) with one row per present bucket."""
    m = 1 << p
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(float(m)))
    agg = regs.groupBy(*group_cols).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("_inv_present"),
        F.count("*").alias("n_buckets"),
    )
    n_zero = (F.lit(m) - F.col("n_buckets")).cast("bigint")
    raw = (
        alpha
        * F.lit(float(m))
        * F.lit(float(m))
        / (F.col("_inv_present") + n_zero.cast("double"))
    )
    corrected = F.when(
        (raw <= F.lit(2.5 * m)) & (n_zero > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / n_zero.cast("double")),
    ).otherwise(raw)
    return agg.select(
        *group_cols,
        F.col("n_buckets").cast("bigint").alias("n_buckets"),
        n_zero.alias("n_zero"),
        raw.alias("est_raw"),
        corrected.alias("est"),
    )


def hll_relative_error(p: int) -> float:
    """Theoretical standard error 1.04 / sqrt(2^p) — the contract the
    tests assert against (3-sigma)."""
    return 1.04 / math.sqrt(1 << p)


def histogram_quantiles(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    quantiles: list[float],
    bucket_width: int,
) -> DataFrame:
    """Fixed-width histogram quantile sketch: the one-pass, mergeable
    alternative to the exact per-group sort percentile (q104).

    Buckets are ``floor(value / bucket_width)``; the quantile estimate
    is a linear interpolation inside the bucket where the cumulative
    count crosses ``q * n`` (lower-edge + fraction-of-bucket), i.e.
    the PERCENTILE_CONT analog computed from counts alone. Histograms
    of shards merge by summing bucket counts — re-aggregation at
    1000 executors is a tiny combine, while exact percentiles would
    re-sort the corpus.

    All arithmetic is integer counts + one final interpolation from
    exact integers, so the estimate is bit-identical in any engine —
    the oracle (q121) re-derives it in SQL and the driver value-checks
    the sketch against the exact percentile side by side.

    Returns (group..., q, est, n) with one row per requested quantile.
    Accuracy is bounded by bucket_width by construction (the estimate
    lands inside the true value's bucket).
    """
    if not quantiles:
        raise ValueError("need at least one quantile")
    if bucket_width <= 0:
        raise ValueError("bucket_width must be positive")
    v = F.col(value_col).cast("double")
    hist = (
        df.select(
            *group_cols,
            F.floor(v / F.lit(float(bucket_width))).alias("_b"),
        )
        .groupBy(*group_cols, "_b")
        .agg(F.count("*").alias("_c"))
    )
    from pyspark.sql import Window

    wspec = (
        Window.partitionBy(*group_cols)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        *group_cols,
        "_b",
        "_c",
        F.sum("_c").over(wspec).alias("_cum"),
        F.sum("_c").over(Window.partitionBy(*group_cols)).alias("n"),
    )
    qs = F.explode(
        F.array(*[F.lit(float(q)) for q in quantiles])
    ).alias("q")
    # target rank in [1, n]: ceil(q * n) with q=0 clamped to rank 1;
    # the estimate interpolates within the bucket holding that rank.
    target = F.greatest(F.ceil(F.col("q") * F.col("n")), F.lit(1))
    picked = (
        cum.select(*group_cols, "_b", "_c", "_cum", "n", qs)
        .filter(F.col("_cum") >= target)
        .groupBy(*group_cols, "q", "n")
        .agg(
            F.min_by(F.struct("_b", "_c", "_cum"), "_b").alias("_hit")
        )
    )
    b = F.col("_hit._b")
    c = F.col("_hit._c").cast("double")
    cum_before = (F.col("_hit._cum") - F.col("_hit._c")).cast("double")
    frac = (
        F.greatest(F.ceil(F.col("q") * F.col("n")), F.lit(1)).cast("double")
        - cum_before
    ) / c
    est = (b.cast("double") + frac) * F.lit(float(bucket_width))
    return picked.select(
        *group_cols,
        "q",
        est.alias("est"),
        F.col("n").cast("bigint").alias("n"),
    )


def _countmin_bucket(key_col: str, row: int, width_bits: int) -> Column:
    """Bucket of ``key_col`` in count-min row ``row``: the first 8 hex
    digits of md5('cm<row>:' || key) mod 2^width_bits. The table and
    its probes must hash identically, so both read this one
    definition."""
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"cm{row}:"), F.col(key_col).cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint") % F.lit(1 << width_bits)


def countmin_table(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width_bits: int = 10,
) -> DataFrame:
    """Count-min sketch table (Cormode-Muthukrishnan 2005): ``depth``
    independent md5-salted hash rows x ``2^width_bits`` buckets, cell =
    count of key occurrences. Returns (row,
    bucket, c) — O(depth * width) cells per corpus regardless of key
    cardinality, built by ONE combinable groupBy; shard tables merge
    by summing cells, the same re-aggregation story as
    :func:`hll_registers`.

    Like every sketch in this module the hash is md5-derived, so the
    full cell table — and therefore every estimate read off it — is
    integer-exact and engine-portable (q128 value-checks both).
    """
    if depth < 1 or width_bits < 1:
        raise ValueError("depth and width_bits must be >= 1")
    rows = []
    for r in range(depth):
        rows.append(
            df.select(
                F.lit(r).alias("row"),
                _countmin_bucket(key_col, r, width_bits).alias("bucket"),
                F.lit(1).cast("bigint").alias("_w"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.groupBy("row", "bucket").agg(F.sum("_w").alias("c"))


def countmin_estimate(
    table: DataFrame,
    probes: DataFrame,
    key_col: str,
    depth: int = 4,
    width_bits: int = 10,
) -> DataFrame:
    """Point-frequency estimates for a set of probe keys against a
    count-min table: est(k) = MIN over rows of cell(row, h_row(k)) —
    an upper bound on the true count, tight for heavy hitters (the
    collision mass is bounded by 2N/width per row, and min over
    independent rows drives the over-estimate to its floor).

    Plan: probes fan out to ``depth`` (row, bucket) lookups, equi-join
    the cell table, min-reduce per key. The cell table is
    dim-table-sized (depth * width rows) — broadcast territory — so
    the probe side never shuffles at all."""
    lookups = None
    for r in range(depth):
        p = probes.select(
            F.col(key_col).alias("key"),
            F.lit(r).alias("row"),
            _countmin_bucket(key_col, r, width_bits).alias("bucket"),
        )
        lookups = p if lookups is None else lookups.unionByName(p)
    return (
        lookups.join(F.broadcast(table), on=["row", "bucket"], how="left")
        .groupBy("key")
        .agg(F.min(F.coalesce("c", F.lit(0))).alias("est"))
    )


def bloom_bits(
    df: DataFrame,
    key_col: str,
    m_bits: int = 1 << 16,
    k_hashes: int = 4,
) -> DataFrame:
    """Bloom-filter bit table: the distinct set-bit positions
    ``md5(key || '#' || i) mod m_bits`` for i in 0..k-1 (Bloom 1970)
    — the runtime-filter primitive a 100-TB join plans around: build
    the bits from the SMALL side's join keys, broadcast them, and
    semi-filter the big side's scan before the shuffle, turning most
    non-matching rows into map-side drops. One row per set bit
    (``(bit)``), so the table is at most m_bits rows regardless of
    input size — broadcast territory by construction — and tables
    built from disjoint shards merge by plain union+distinct.

    Deterministic md5 positions (the :func:`_md5_u32` convention), so
    a SQL twin sets bit-for-bit identical positions — estimates AND
    the filter decision are cross-engine exact.
    """
    if m_bits < 2 or k_hashes < 1:
        raise ValueError("m_bits must be >= 2 and k_hashes >= 1")
    keys = df.select(F.col(key_col).alias("_k")).distinct()
    bits = None
    for i in range(k_hashes):
        b = keys.select(
            (_md5_u32(F.col("_k"), salt=f"#{i}") % m_bits).alias("bit")
        )
        bits = b if bits is None else bits.unionByName(b)
    return bits.distinct()


def bloom_probe(
    probes: DataFrame,
    bits: DataFrame,
    key_col: str,
    m_bits: int = 1 << 16,
    k_hashes: int = 4,
) -> DataFrame:
    """Membership test against a :func:`bloom_bits` table: returns the
    probe rows plus ``maybe_member`` — true iff ALL k bit positions of
    the probe key are set (no false negatives; false positives at the
    standard (1 - e^{-kn/m})^k rate). ``m_bits``/``k_hashes`` must
    match the build call.

    Plan shape: each probe fans out to its k positions, LEFT-joins the
    bit table (dim-sized — Catalyst broadcasts it), and a keyed
    bool_and folds the verdict; the fan-out is k×, constant, not
    data-dependent. Intended use is ``filter(maybe_member)`` as the
    cheap pre-shuffle gate, with the exact join after it — false
    positives cost only wasted shuffle rows, never wrong results.
    """
    if m_bits < 2 or k_hashes < 1:
        raise ValueError("m_bits must be >= 2 and k_hashes >= 1")
    pos = None
    for i in range(k_hashes):
        p = probes.select(
            F.col(key_col).alias("_k"),
            (_md5_u32(F.col(key_col), salt=f"#{i}") % m_bits).alias(
                "bit"
            ),
        )
        pos = p if pos is None else pos.unionByName(p)
    hit = pos.join(
        bits.withColumn("_set", F.lit(True)), on="bit", how="left"
    )
    verdict = hit.groupBy("_k").agg(
        F.min(F.coalesce("_set", F.lit(False))).alias("maybe_member")
    )
    return probes.join(
        verdict.select(F.col("_k").alias(key_col), "maybe_member"),
        on=key_col,
        how="left",
    )
