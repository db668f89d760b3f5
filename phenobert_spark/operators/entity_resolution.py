"""Entity resolution for KG construction: blocked pairwise matching
and deterministic negative sampling for embedding training.

The reference builds its concept graph from a curated ontology, so it
never has to reconcile near-duplicate surface forms; a KG built from a
raw corpus does. ``blocked_matches`` is the classic blocking-key ER
pass (Fellegi-Sunter style candidate generation): cheap deterministic
keys cut the O(n^2) pair space down to within-block pairs, then an
exact edit-distance predicate scores survivors. The LSH/banding dedup
family in ``operators/dedup.py`` is the same shape for whole documents;
this operator is the short-string / entity-record variant.

``negative_sample_triples`` is the training-data half: KG-embedding
objectives (TransE et al.) need one corrupted triple per positive, and
at 100 TB the corruption must be a pure function of the triple so any
shard, backfill, or re-run derives the identical negative (the
md5-draw discipline of ``operators/sampling.py``).

Scale shape (100 TB):

* ``blocked_matches`` shuffles once on the blocking key; pair fan-out
  is bounded by block size, never corpus size. A pathological hot
  block (empty/default key values) is the known failure mode; a
  production run routes such keys to a dedicated pass.
* ``negative_sample_triples`` touches the corpus-sized edge table with
  two narrow equi-joins against the ENTITY index, which is vocabulary-
  sized (dim-table scale) and broadcast by AQE. The index's global
  ``row_number`` runs on that dim-sized side only — never on the edge
  table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def blocked_matches(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: list,
    max_edit: int = 2,
) -> DataFrame:
    """Within-block candidate pairs scored by Levenshtein distance.

    Returns one row per unordered pair (``id_a < id_b``) whose names
    are within ``max_edit`` edits, with ``sim = 1 - dist/max(len)``
    rounded to 6 places. ``block_cols`` may be column names or Column
    expressions (e.g. a first-token key).
    """
    blocks = [
        F.col(c).alias(f"_bk{i}") if isinstance(c, str) else c.alias(f"_bk{i}")
        for i, c in enumerate(block_cols)
    ]
    keyed = df.select(
        F.col(id_col).alias("_id"), F.col(name_col).alias("_name"), *blocks
    )
    bk = [f"_bk{i}" for i in range(len(block_cols))]
    a = keyed.select(
        *bk, F.col("_id").alias("id_a"), F.col("_name").alias("name_a")
    )
    b = keyed.select(
        *bk, F.col("_id").alias("id_b"), F.col("_name").alias("name_b")
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, on=bk, how="inner")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(dist <= max_edit)
        .select(
            "id_a",
            "id_b",
            "name_a",
            "name_b",
            dist.cast("bigint").alias("edit_dist"),
            F.round(
                1.0
                - dist
                / F.greatest(F.length("name_a"), F.length("name_b")),
                6,
            ).alias("sim"),
        )
    )


def negative_sample_triples(
    triples: DataFrame,
    head_col: str = "head",
    rel_col: str = "rel",
    tail_col: str = "tail",
    salt: str = "",
) -> DataFrame:
    """One deterministic corrupted tail per positive triple.

    The draw is ``md5(head|rel|tail|salt)`` reduced mod ``n-1`` over
    the tail-entity vocabulary with the skip-self shift (draws at or
    above the true tail's index shift up by one), so the negative is
    uniform over the ``n-1`` entities that are NOT the true tail and
    is a pure function of the triple — any engine re-derives it
    (q148's DuckDB oracle does). Requires >= 2 distinct tail entities.

    Output: (head, rel, tail, neg_tail).
    """
    ents = (
        triples.select(F.col(tail_col).alias("_ent"))
        .distinct()
        .withColumn(
            "_idx",
            F.row_number().over(Window.orderBy("_ent")).cast("bigint") - 1,
        )
    )
    n = ents.agg(F.count("*").alias("_n"))
    base = (
        triples.select(
            F.col(head_col).alias("head"),
            F.col(rel_col).alias("rel"),
            F.col(tail_col).alias("tail"),
        )
        .join(
            F.broadcast(ents.select(F.col("_ent"), F.col("_idx").alias("_tidx"))),
            F.col("tail") == F.col("_ent"),
        )
        .drop("_ent")
        .crossJoin(F.broadcast(n))
    )
    # the guard lives INSIDE the divisor so it cannot be pruned away:
    # n < 2 raises a descriptive error instead of ANSI mod-by-zero (or,
    # with ANSI off, a silent all-NULL draw that drops every row)
    divisor = F.when(F.col("_n") >= 2, F.col("_n") - 1).otherwise(
        F.assert_true(
            F.col("_n") >= 2,
            F.lit(
                "negative_sample_triples requires >= 2 distinct tail entities"
            ),
        ).cast("bigint")
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("head").cast("string"),
                    F.col("rel").cast("string"),
                    F.col("tail").cast("string"),
                    F.lit(salt),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint") % divisor
    drawn = base.withColumn(
        "_nidx", h + F.when(h >= F.col("_tidx"), F.lit(1)).otherwise(F.lit(0))
    )
    return (
        drawn.join(
            F.broadcast(ents),
            drawn["_nidx"] == ents["_idx"],
        )
        .select(
            "head", "rel", "tail", F.col("_ent").alias("neg_tail")
        )
    )


def fuse_triples(
    triples: DataFrame,
) -> DataFrame:
    """Knowledge fusion / conflict resolution: many extractors (or many
    documents) assert conflicting objects for the same (subject,
    predicate); keep the object with the greatest total confidence
    across sources (Knowledge-Vault-style weighted voting). Ties break
    toward more distinct supporting sources, then the lexicographically
    smallest object, so the winner is a pure function of the input set.

    Output: one row per (subj, pred) with the fused ``obj``, its
    summed ``support``, the distinct supporting-source count ``n_src``
    and the number of competing objects ``n_alt`` (1 = no conflict).

    Scale shape: one partial-aggregated groupBy on (subj, pred, obj)
    — map-side combine collapses per-source repeats before the
    shuffle — then a (subj, pred)-keyed window over the already
    object-collapsed rows, whose per-group size is the number of
    DISTINCT competing objects (small by construction), never the
    number of supporting mentions. No driver collection.
    """
    support = triples.groupBy("subj", "pred", "obj").agg(
        F.sum("conf").alias("support"),
        F.countDistinct("src").alias("n_src"),
    )
    grp = Window.partitionBy("subj", "pred")
    w = grp.orderBy(
        F.col("support").desc(), F.col("n_src").desc(), F.col("obj").asc()
    )
    return (
        support.withColumn("n_alt", F.count(F.lit(1)).over(grp))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def pool_evidence(
    mentions: DataFrame,
) -> DataFrame:
    """Noisy-OR evidence pooling: mention-level extraction scores →
    one KG-level triple confidence.

    Each supporting mention asserts the triple with independent
    probability ``score``; the pooled confidence is
    ``1 - prod(1 - score_i)`` (the noisy-OR of Knowledge-Vault-style
    fusion — many weak mentions accumulate toward certainty, one
    strong mention suffices). Scores are clamped to ``[0, 0.999999]`` so a
    single 1.0 mention cannot zero the product and erase the
    remaining evidence count's contribution to downstream tie-breaks.

    Output: (subj, pred, obj, n_mentions, max_score, pooled), pooled
    rounded to 6 places. One groupBy on the triple key with PRODUCT
    partial aggregation — map-side combinable, no window, no
    per-group collection; this is the aggregation that turns 10^12
    mention rows into the (much smaller) KG edge table.
    """
    s = F.least(F.greatest(F.col("score"), F.lit(0.0)), F.lit(0.999999))
    return (
        mentions.select("subj", "pred", "obj", s.alias("_s"))
        .groupBy("subj", "pred", "obj")
        .agg(
            F.count("*").alias("n_mentions"),
            F.round(F.max("_s"), 6).alias("max_score"),
            F.round(F.lit(1.0) - F.product(F.lit(1.0) - F.col("_s")), 6).alias(
                "pooled"
            ),
        )
    )


def sorted_neighborhood_matches(
    df: DataFrame,
    id_col: str,
    name_col: str,
    window: int = 5,
    max_edit: int = 2,
    n_partitions: int | None = None,
) -> DataFrame:
    """Sorted-neighborhood candidate generation (Hernández & Stolfo
    1995), the other classic ER blocking strategy: order records by a
    sort key and pair every record with its ``window - 1`` successors.
    Where ``blocked_matches`` misses near-duplicates that disagree on
    the blocking key, SNM catches anything the SORT brings adjacent —
    production ER runs both and unions the candidate pairs.

    The scale problem is the global ORDER: a naive
    ``row_number() OVER (ORDER BY key)`` is a single-reducer window.
    This implementation builds the global rank the way a distributed
    sort actually does: range-repartition + in-partition sort (Spark's
    own TakeOrdered machinery, no single task sees the corpus), count
    rows per partition (a P-row driver aggregate), and add the
    broadcast prefix-sum offset to each partition-local row_number —
    the DataFrame form of zipWithIndex. Candidate pairing is then an
    EQUI-join on floor(rank / window) buckets (the left side also
    probes bucket+1 for window-straddling pairs) — fan-out per bucket
    is <= window^2, never corpus-sized, and no range/theta join
    appears in the plan. Ranks are deterministic regardless of where
    the range partitioner cuts, because the total order
    (key, then id) is unique.

    Returns (id_a, id_b, edit_dist, sim) for pairs within the window
    whose Levenshtein distance is <= ``max_edit``, with id_a the
    lower-ranked record; ``sim`` is the length-normalized similarity,
    matching ``blocked_matches``.
    """
    if window < 2:
        raise ValueError("window must be >= 2")
    spark = df.sparkSession
    p = n_partitions or spark.sparkContext.defaultParallelism
    s = (
        df.select(F.col(id_col).alias("id"), F.col(name_col).alias("name"))
        .repartitionByRange(p, "name", "id")
        .sortWithinPartitions("name", "id")
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # pin the range cuts across jobs
    )
    counts = {r._pid: r.cnt for r in s.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_map = F.create_map(
        *[F.lit(x) for pid in offsets for x in (pid, offsets[pid])]
    )
    w = Window.partitionBy("_pid").orderBy("name", "id")
    ranked = s.select(
        "id",
        "name",
        (F.row_number().over(w) + off_map[F.col("_pid")]).alias("rank"),
    ).withColumn("bkt", F.floor((F.col("rank") - 1) / window))
    left = ranked.select(
        F.col("id").alias("id_a"),
        F.col("name").alias("name_a"),
        F.col("rank").alias("rank_a"),
        F.explode(F.array(F.col("bkt"), F.col("bkt") + 1)).alias("bkt"),
    )
    right = ranked.select(
        F.col("id").alias("id_b"),
        F.col("name").alias("name_b"),
        F.col("rank").alias("rank_b"),
        "bkt",
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        left.join(right, "bkt")
        .filter(
            (F.col("rank_b") > F.col("rank_a"))
            & (F.col("rank_b") - F.col("rank_a") < window)
        )
        .filter(dist <= max_edit)
        .select(
            "id_a",
            "id_b",
            dist.cast("bigint").alias("edit_dist"),
            F.round(
                1.0 - dist / F.greatest(F.length("name_a"), F.length("name_b")),
                6,
            ).alias("sim"),
        )
        .dropDuplicates(["id_a", "id_b"])  # both-bucket probes collide
        .orderBy("id_a", "id_b")
    )


def bcubed_scores(
    df: DataFrame,
) -> DataFrame:
    """B-cubed precision/recall/F1 of a predicted clustering against
    gold clusters (Bagga & Baldwin 1998) — the standard extrinsic
    metric for entity-resolution output (blocked_matches /
    sorted_neighborhood_matches edges -> connected components ->
    THIS, against a labeled sample).

    Per item i: precision(i) = |cluster(i) ∩ gold_class(i)| /
    |cluster(i)|, recall(i) mirrors with the gold size; the corpus
    scores are the plain means and F1 their harmonic mean. Returns
    one row (bcubed_precision, bcubed_recall, bcubed_f1, n_items).

    Chosen over pairwise P/R because it is LINEAR: pairwise F1
    materializes O(sum of cluster sizes squared) pairs — a single
    mega-cluster (the classic ER failure mode this metric exists to
    catch) explodes exactly when you most need the number. Here the
    plan is three keyed counts (gold, pred, gold x pred), two
    broadcast-sized joins back onto the items, and one global mean —
    every aggregation map-side combinable, nothing quadratic, skew
    bounded by the count tables not the pair space.
    """
    items = df.select(
        F.col("item").alias("_i"),
        F.col("gold").cast("string").alias("_g"),
        F.col("pred").cast("string").alias("_p"),
    )
    both = items.groupBy("_g", "_p").agg(F.count("*").alias("_n"))
    gsz = items.groupBy("_g").agg(F.count("*").alias("_gn"))
    psz = items.groupBy("_p").agg(F.count("*").alias("_pn"))
    per_item = (
        items.join(both, ["_g", "_p"])
        .join(gsz, "_g")
        .join(psz, "_p")
        .select(
            (F.col("_n").cast("double") / F.col("_pn")).alias("_prec"),
            (F.col("_n").cast("double") / F.col("_gn")).alias("_rec"),
        )
    )
    agg = per_item.agg(
        F.avg("_prec").alias("_ap"),
        F.avg("_rec").alias("_ar"),
        F.count("*").cast("bigint").alias("n_items"),
    )
    return agg.select(
        F.round("_ap", 6).alias("bcubed_precision"),
        F.round("_ar", 6).alias("bcubed_recall"),
        F.round(
            2 * F.col("_ap") * F.col("_ar") / (F.col("_ap") + F.col("_ar")),
            6,
        ).alias("bcubed_f1"),
        "n_items",
    )


def blocking_quality(
    candidates: DataFrame,
    gold: DataFrame,
    n_items: int,
) -> DataFrame:
    """Blocking-scheme quality report (Christen 2012's standard
    trio): how much of the quadratic pair space a blocking key throws
    away (reduction ratio), how many TRUE matches survive it (pairs
    completeness — the recall ceiling of everything downstream), and
    how dense the surviving candidates are in true matches (pairs
    quality). The decision metric for choosing blocking keys BEFORE
    paying for a 10^12-item ER run — a key with RR 0.999 but PC 0.7
    silently caps the KG's merge recall at 70%.

    Inputs: candidate pairs and gold pairs (any orientation or
    duplication — both are canonicalized to unordered distinct
    pairs), plus the item universe size. Returns one row
    ``(n_items, n_candidates, n_gold, n_hit, reduction_ratio,
    pairs_completeness, pairs_quality)``, rates rounded to 6.

    Plan: two distincts keyed on the pair, one pair-keyed join for
    the hit count, three scalar aggregates — linear in the pair
    tables, with the quadratic total-pair-space appearing only as
    the arithmetic constant n(n-1)/2.
    """

    def _canon(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.least(F.col("id_a"), F.col("id_b")).alias("_a"),
                F.greatest(F.col("id_a"), F.col("id_b")).alias("_b"),
            )
            # a self-pair is not a candidate match and would inflate
            # n_candidates / deflate pairs_quality
            .filter(F.col("_a") != F.col("_b"))
            .distinct()
        )

    c, g = _canon(candidates), _canon(gold)
    hit = c.join(g, on=["_a", "_b"], how="inner")
    stats = (
        c.agg(F.count("*").alias("n_candidates"))
        .crossJoin(g.agg(F.count("*").alias("n_gold")))
        .crossJoin(hit.agg(F.count("*").alias("n_hit")))
    )
    total_pairs = n_items * (n_items - 1) / 2.0
    return stats.select(
        F.lit(int(n_items)).cast("long").alias("n_items"),
        F.col("n_candidates").cast("long").alias("n_candidates"),
        F.col("n_gold").cast("long").alias("n_gold"),
        F.col("n_hit").cast("long").alias("n_hit"),
        F.round(1.0 - F.col("n_candidates") / F.lit(total_pairs), 6).alias(
            "reduction_ratio"
        ),
        # empty gold / empty candidate sets have no defined rate:
        # NULL instead of an ANSI divide-by-zero, counts intact
        F.round(
            F.when(F.col("n_gold") > 0, F.col("n_hit") / F.col("n_gold")), 6
        ).alias("pairs_completeness"),
        F.round(
            F.when(
                F.col("n_candidates") > 0,
                F.col("n_hit") / F.col("n_candidates"),
            ),
            6,
        ).alias("pairs_quality"),
    )


def fellegi_sunter_weights(
    pairs: DataFrame,
    label_col: str,
    feature_cols: list[str],
) -> DataFrame:
    """Fellegi-Sunter (1969) match/non-match agreement weights — the
    probabilistic record-linkage scoring that turns per-feature
    agreement bits into additive log-odds evidence. For each feature:
    ``m`` = P(agree | match), ``u`` = P(agree | non-match), and the
    pair score adds ``w_agree = log2(m/u)`` on agreement,
    ``w_disagree = log2((1-m)/(1-u))`` on disagreement. Estimated
    here from labeled candidate pairs with add-half smoothing
    (``(k + 0.5)/(n + 1)``) so degenerate features (always/never
    agreeing) stay finite and the estimate is a pure closed form any
    engine reproduces (q200's oracle does).

    Plan: one melt (explode of a features-sized struct array — row
    growth x|features|, a constant) and one feature-keyed aggregate,
    fully map-side combinable; |features| rows out. Linear in the
    candidate-pair table, which blocking already bounded.
    """
    lab = F.col(label_col).cast("int")
    melted = pairs.select(
        lab.alias("_y"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f).alias("feature"),
                        F.col(f).cast("int").alias("agree"),
                    )
                    for f in feature_cols
                ]
            )
        ).alias("_f"),
    ).select("_y", "_f.feature", "_f.agree")
    g = melted.groupBy("feature").agg(
        F.sum("_y").alias("_nm"),
        F.sum(1 - F.col("_y")).alias("_nu"),
        F.sum(F.col("agree") * F.col("_y")).alias("_am"),
        F.sum(F.col("agree") * (1 - F.col("_y"))).alias("_au"),
    )
    m = (F.col("_am") + 0.5) / (F.col("_nm") + 1.0)
    u = (F.col("_au") + 0.5) / (F.col("_nu") + 1.0)
    return g.select(
        "feature",
        F.round(m, 6).alias("m"),
        F.round(u, 6).alias("u"),
        F.round(F.log2(m / u), 6).alias("w_agree"),
        F.round(F.log2((1 - m) / (1 - u)), 6).alias("w_disagree"),
    )
