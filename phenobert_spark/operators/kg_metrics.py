"""Ontology-DAG corpus metrics: information content (IC) and
MICA-based concept similarity (Resnik / Lin).

The reference scores predictions with DAG-aware set similarity over
the HPO hierarchy (reference ``evaluate.py`` uses ontology structure
to credit near-miss concepts); the corpus-frequency information-
content family (Resnik 1995, Lin 1998) is the standard generalization
a knowledge graph built at corpus scale actually serves: IC weights a
concept by how RARE it is in the annotated corpus, and concept-pair
similarity is the IC of the most informative common ancestor (MICA).

Scale shape (100 TB): the ontology closure is dim-table sized (HPO:
~19k concepts x ~15 mean ancestors) and is broadcast; the annotation
table is the corpus-sized side and is touched exactly once with a
narrow equi-join. Every aggregate runs keyed on the CONCEPT key
space, which is bounded by the ontology, not the corpus, so the
post-join reductions are skew-free and combiner-friendly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._fixpoint import iterate


def closure_with_self(closure: DataFrame, node: str = "node", anc: str = "anc") -> DataFrame:
    """Add identity pairs (c, c) to a proper-ancestor closure so that
    'annotated at-or-below c' includes annotations at c itself and a
    concept is its own candidate MICA."""
    nodes = (
        closure.select(F.col(node))
        .unionByName(closure.select(F.col(anc).alias(node)))
        .distinct()
    )
    return closure.select(node, anc).unionByName(
        nodes.select(F.col(node), F.col(node).alias(anc))
    )


def concept_information_content(
    annotations: DataFrame,
    closure: DataFrame,
    doc_col: str = "doc_id",
    concept_col: str = "concept",
    node_col: str = "node",
    anc_col: str = "anc",
) -> DataFrame:
    """IC(c) = -ln(|docs annotated at c or any descendant| / |docs|)
    over a (doc, concept) annotation table and an ancestor closure
    that INCLUDES self-pairs (see :func:`closure_with_self`).

    Returns (concept, n_docs, ic) for every concept with >= 1
    annotated descendant (IC of an unannotated concept is undefined —
    ln 0 — and is omitted rather than fabricated).

    Plan: broadcast the ontology-sized closure onto the corpus-sized
    annotation table (narrow after the join), then ONE wide pass: a
    (doc, anc) distinct + concept-keyed count, with map-side partial
    aggregation absorbing the per-document ancestor fan-out. The
    corpus total rides along as a broadcast 1-row aggregate — no
    driver collect, the whole metric is one lazy plan.
    """
    doc_anc = (
        annotations.select(F.col(doc_col).alias("_doc"), F.col(concept_col).alias("_c"))
        .join(
            F.broadcast(
                closure.select(
                    F.col(node_col).alias("_c"), F.col(anc_col).alias("_anc")
                )
            ),
            on="_c",
        )
        .select("_doc", "_anc")
        .distinct()
    )
    total = (
        annotations.select(F.col(doc_col).alias("_doc"))
        .distinct()
        .agg(F.count("*").alias("_n_total"))
    )
    return (
        doc_anc.groupBy(F.col("_anc").alias("concept"))
        .agg(F.countDistinct("_doc").alias("n_docs"))
        .crossJoin(F.broadcast(total))
        .select(
            "concept",
            "n_docs",
            (-F.log(F.col("n_docs").cast("double") / F.col("_n_total"))).alias("ic"),
        )
    )


def mica_similarity(
    pairs: DataFrame,
    closure: DataFrame,
    ic: DataFrame,
    c1: str = "c1",
    c2: str = "c2",
    node_col: str = "node",
    anc_col: str = "anc",
) -> DataFrame:
    """Resnik / Lin similarity for explicit concept pairs:
    ``resnik(c1,c2) = IC(MICA)`` where MICA is the common ancestor
    (closure must include self-pairs) with maximal IC, tie-broken by
    ascending ancestor id; ``lin = 2*IC(MICA) / (IC(c1)+IC(c2))``
    (NULL when both ICs are 0, i.e. both concepts cover the corpus).

    Returns (c1, c2, mica, resnik, lin).

    Plan: closure and ic are ontology-sized — broadcast both; the
    pairs side (the potentially huge one: every candidate concept
    pair a linker or dedup stage asks about) is joined narrowly and
    reduced with one window argmax keyed on the pair itself, so
    the shuffle key space is exactly the request set.
    """
    cl = F.broadcast(closure.select(node_col, anc_col))
    icb = F.broadcast(ic.select("concept", "ic"))
    common = (
        pairs.select(c1, c2)
        .join(cl.withColumnRenamed(node_col, c1).withColumnRenamed(anc_col, "_a1"), on=c1)
        .join(
            cl.withColumnRenamed(node_col, c2).withColumnRenamed(anc_col, "_a2"),
            on=c2,
        )
        .filter(F.col("_a1") == F.col("_a2"))
        .join(icb.withColumnRenamed("concept", "_a1"), on="_a1")
    )
    w = Window.partitionBy(c1, c2).orderBy(F.col("ic").desc(), F.col("_a1").asc())
    best = (
        common.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(c1, c2, F.col("_a1").alias("mica"), F.col("ic").alias("resnik"))
    )
    ic1 = icb.withColumnRenamed("concept", c1).withColumnRenamed("ic", "_ic1")
    ic2 = icb.withColumnRenamed("concept", c2).withColumnRenamed("ic", "_ic2")
    denom = F.col("_ic1") + F.col("_ic2")
    return (
        best.join(ic1, on=c1)
        .join(ic2, on=c2)
        .select(
            c1,
            c2,
            "mica",
            "resnik",
            F.when(denom != 0, 2 * F.col("resnik") / denom).alias("lin"),
        )
    )


def bma_doc_similarity(
    pairs: DataFrame,
    annotations: DataFrame,
    closure: DataFrame,
    ic: DataFrame,
    d1: str = "d1",
    d2: str = "d2",
    doc_col: str = "doc_id",
    concept_col: str = "concept",
    node_col: str = "node",
    anc_col: str = "anc",
) -> DataFrame:
    """Symmetric best-match-average (BMA) semantic similarity between
    annotated documents — the patient/document phenotype-similarity
    primitive the reference's DAG-aware scorer approximates per eval
    pair (reference ``phenobert/utils/evaluate.py`` "Node Similarity
    Way"; Pesquita et al. 2009 survey):

        bm(a→b)  = mean over c in S(a) of  max_{c' in S(b)} resnik(c, c')
        bma(a,b) = (bm(a→b) + bm(b→a)) / 2

    where ``resnik(c, c') = IC(MICA)`` and a concept with NO common
    ancestor on the other side contributes 0. Returns (d1, d2, bma)
    for every requested pair of annotated docs; a pair whose docs
    are BOTH unannotated drops out (no direction rows), and a
    one-sided pair scores 0 — callers should draw pairs from the
    annotated corpus, as the reference eval does (it only scores
    annotated documents).

    The naive form blows up as |S(a)| x |S(b)| concept pairs per doc
    pair. This implementation never materializes concept pairs:

        max_{c' in S(b)} resnik(c, c')
          = max { IC(a) : a in ancestors(c) INTERSECT ancestors(S(b)) }

    so the match side is the per-DOC distinct ancestor set (the same
    (doc, anc) relation IC itself is computed from), joined on
    (doc, ancestor) — corpus-bounded, never concept-pair-bounded.

    Plan shape: closure and IC broadcast (ontology-sized); the only
    shuffles are keyed on the REQUEST pair set and on (doc, anc) —
    both linear in the input, no quadratic stage anywhere.
    """
    cl = F.broadcast(
        closure.select(F.col(node_col).alias("_c"), F.col(anc_col).alias("_anc"))
    )
    ann = (
        annotations.select(
            F.col(doc_col).alias("_doc"), F.col(concept_col).alias("_c")
        )
        .distinct()
    )
    dst_anc_ic = (
        ann.join(cl, on="_c")
        .select(F.col("_doc").alias("_dst"), "_anc")
        .distinct()
        .join(
            F.broadcast(ic.select(F.col("concept").alias("_anc"), "ic")),
            on="_anc",
        )
        .select("_dst", "_anc", F.col("ic").alias("_ic"))
    )
    p = pairs.select(F.col(d1).alias("d1"), F.col(d2).alias("d2"))
    dirs = p.select(
        "d1", "d2", F.col("d1").alias("_src"), F.col("d2").alias("_dst")
    ).unionByName(
        p.select("d1", "d2", F.col("d2").alias("_src"), F.col("d1").alias("_dst"))
    )
    src_anc = dirs.join(
        ann.withColumnRenamed("_doc", "_src"), on="_src"
    ).join(cl, on="_c")
    best = (
        src_anc.join(dst_anc_ic, on=["_dst", "_anc"], how="left")
        .groupBy("d1", "d2", "_src", "_c")
        .agg(F.coalesce(F.max("_ic"), F.lit(0.0)).alias("_best"))
    )
    dir_mean = best.groupBy("d1", "d2", "_src").agg(F.avg("_best").alias("_bm"))
    return dir_mean.groupBy("d1", "d2").agg(
        (F.sum("_bm") / F.lit(2.0)).alias("bma")
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge table:
    rank_{i+1}(v) = (1-d)/N + d * sum over in-neighbors u of
    rank_i(u)/out_deg(u). Returns (node, rank) after exactly ``iters``
    iterations from the uniform start — FIXED iteration count, not
    convergence-gated, so the result is a deterministic function of
    the graph and both engines of the q113 contract can unroll the
    same arithmetic. Dangling-node mass (out_deg 0) is dropped, the
    common simplification; document it if ranks must sum to 1. An
    empty edge table gives an empty rank frame.

    Plan per iteration: one equi-join of the rank vector onto the
    edge table (rank side is node-keyed, edge side pre-joined with
    out-degree once, outside the loop) + one dst-keyed aggregate,
    then a left join back onto the node set for no-in-edge nodes.
    The node count is one collected scalar; the rounds plan lazily (a
    3-iteration pagerank is ONE AQE query).
    """
    # One exchange of the edge table, total: ep is hash-partitioned on
    # the source key and cached, so (a) the out-degree aggregate runs
    # with NO exchange, (b) every iteration's edge join reuses the
    # cached partitioning and only moves the rank vector. rank/out_deg
    # is a per-NODE quantity, so the degree is attached to the rank
    # side (|V| rows) each round instead of materializing a joined
    # (src, dst, out_deg) edge table (|E| rows) up front. Node set =
    # degree keys (distinct sources, free byproduct) + distinct
    # destinations — cheaper than distinct over the 2|E| union.
    ep = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_t")).repartition(
        "_s"
    )
    deg = ep.groupBy("_s").agg(F.count("*").cast("double").alias("_od"))
    nodes = (
        deg.select(F.col("_s").alias("node"))
        .unionByName(ep.select(F.col("_t").alias("node")).distinct())
        .distinct()
    )
    n = 1.0

    def start():
        nonlocal n
        # an empty graph has no rank rows, so any n > 0 serves
        n = float(nodes.count()) or 1.0
        return nodes.select("node", F.lit(1.0 / n).alias("rank"))

    def step(rank, i):
        w = deg.join(rank.withColumnRenamed("node", "_s"), on="_s").select(
            "_s", (F.col("rank") / F.col("_od")).alias("_w")
        )
        contrib = (
            ep.join(w, on="_s")
            .groupBy(F.col("_t").alias("node"))
            .agg(F.sum("_w").alias("_in"))
        )
        return nodes.join(contrib, on="node", how="left").select(
            "node",
            (
                F.lit((1.0 - damping) / n)
                + F.lit(damping) * F.coalesce(F.col("_in"), F.lit(0.0))
            ).alias("rank"),
        )

    return iterate(start, step, rounds=iters, invariants=(ep, deg, nodes))


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    undirected graph (self-loops and duplicate/reversed edges are
    normalized away). Returns (node, degree, triangles, clustering).

    The scale-critical choice is DEGREE ORDERING (Cohen 2009 /
    Suri-Vassilvitskii "Counting Triangles and the Curse of the Last
    Reducer"): every edge is oriented from its lower-(degree, id)
    endpoint to the higher one, so wedges are enumerated only at each
    triangle's LOWEST-degree vertex. A star hub of degree d receives
    no wedge fan-out (all its edges point INTO it) — without this the
    hub materializes d^2 candidate rows and one reducer eats the
    whole graph; with it the wedge count is bounded by sum of
    min-degree^2 over the orientation, the standard O(m^{3/2}) bound.

    Plan: two equi-joins (wedge build + closure probe), both on node
    keys; degree is one keyed count; everything map-side combinable.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    und = (
        e.select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sym = und.unionByName(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count("*").alias("degree")
    )
    # orient every edge lower-(degree, id) -> higher-(degree, id)
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("_da"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("_db"))
    ranked = und.join(da, on="a").join(db, on="b")
    fwd = F.struct(F.col("_da"), F.col("a")) < F.struct(F.col("_db"), F.col("b"))
    oriented = ranked.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("hi"),
    ).localCheckpoint(eager=True)
    # wedges at the low vertex: (lo -> x), (lo -> y), x "before" y in
    # the SAME orientation order; the closing edge, if present, is
    # oriented x -> y by transitivity of the (degree, id) order.
    o1 = oriented.select(F.col("lo").alias("w"), F.col("hi").alias("x"))
    o2 = oriented.select(F.col("lo").alias("w"), F.col("hi").alias("y"))
    dx = deg.select(F.col("node").alias("x"), F.col("degree").alias("_dx"))
    dy = deg.select(F.col("node").alias("y"), F.col("degree").alias("_dy"))
    wedges = (
        o1.join(o2, on="w")
        .join(dx, on="x")
        .join(dy, on="y")
        .filter(
            F.struct(F.col("_dx"), F.col("x")) < F.struct(F.col("_dy"), F.col("y"))
        )
        .select("w", "x", "y")
    )
    tris = wedges.join(
        oriented.select(F.col("lo").alias("x"), F.col("hi").alias("y")),
        on=["x", "y"],
    )
    per_node = (
        tris.select(F.col("w").alias("node"))
        .unionByName(tris.select(F.col("x").alias("node")))
        .unionByName(tris.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )
    return (
        deg.join(per_node, on="node", how="left")
        .select(
            "node",
            F.col("degree").cast("bigint").alias("degree"),
            F.coalesce("triangles", F.lit(0)).cast("bigint").alias("triangles"),
            F.when(
                F.col("degree") >= 2,
                F.lit(2.0)
                * F.coalesce("triangles", F.lit(0)).cast("double")
                / (
                    F.col("degree").cast("double")
                    * (F.col("degree").cast("double") - F.lit(1.0))
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )


def label_propagation(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    iters: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan
    2007), made DETERMINISTIC: every node starts labeled with itself;
    each round it adopts the most frequent label among its neighbors,
    ties broken by the smallest label, isolated nodes keep their own.
    Fixed ``iters`` synchronous rounds (the async/random variant of the
    original paper is irreproducible by construction — useless for a
    pipeline that must re-run identically, and untestable against an
    oracle; q127 value-checks this form against unrolled SQL).

    Complements :func:`connected_components` (labels by reachability)
    and :func:`pagerank` (scores by centrality): LPA splits a
    connected region into densely-linked communities — on a dedup
    graph, template families inside one giant weakly-connected blob.

    Plan per round: one equi-join (neighbor labels), one keyed count,
    one per-node top-1 window — all on the node key, map-side
    combinable, hub-skew bounded by distinct neighbor LABELS (not
    neighbors).
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    # the neighbor-label join runs on "b" every round
    sym = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .repartition("b")
    )
    all_nodes = sym.select(F.col("a").alias("node")).distinct()
    if nodes is not None:
        all_nodes = (
            nodes.select(F.col(nodes.columns[0]).alias("node"))
            .unionByName(all_nodes)
            .distinct()
        )
    wtop = Window.partitionBy("node").orderBy(
        F.col("_c").desc(), F.col("lbl")
    )

    def step(labels, i):
        votes = (
            sym.join(labels.withColumnRenamed("node", "b"), on="b")
            .groupBy(F.col("a").alias("node"), "lbl")
            .agg(F.count("*").alias("_c"))
        )
        top = (
            votes.withColumn("_rn", F.row_number().over(wtop))
            .filter(F.col("_rn") == 1)
            .select("node", "lbl")
        )
        return all_nodes.join(top, on="node", how="left").select(
            "node", F.coalesce("lbl", F.col("node")).alias("lbl")
        )

    labels = iterate(
        all_nodes.select("node", F.col("node").alias("lbl")),
        step,
        rounds=iters,
        invariants=(sym, all_nodes),
    )
    return labels.select("node", F.col("lbl").alias("community"))


def neighbor_mean_features(
    edges: DataFrame,
    feats: DataFrame,
    id_col: str = "vec_id",
    feat_col: str = "embedding",
    src: str = "src",
    dst: str = "dst",
    include_self: bool = True,
) -> DataFrame:
    """One propagation layer of neighborhood feature averaging — the
    distributed form of the GCN-style smoothing the linking stage uses
    driver-side (linking/models.py's smoothed concept centroids, M3
    analog; Kipf-Welling mean-aggregator): every node's output is the
    element-wise mean of its neighbors' feature vectors (plus its own,
    with ``include_self`` — the renormalized self-loop trick).

    Returns LONG format (node, dim, mean, n_contrib): one row per
    vector slot, which keeps the op a pure join + keyed aggregate (no
    per-row Python, no array rebuild) and lets downstream layers chain
    by re-grouping. Plan: the feature table joins the symmetrized edge
    list on the neighbor key (one shuffle), posexplode is a narrow
    generator, and the (node, dim) aggregate is map-side combinable;
    hub skew is bounded because a degree-d node contributes d rows per
    dim to ONE key, the classic combiner shape. Stacking k layers = k
    such passes (the iteration structure of every message-passing
    system, cf. Pregel/GraphX aggregateMessages).
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    f = feats.select(
        F.col(id_col).alias("_fid"), F.col(feat_col).alias("_feat")
    )
    contrib = sym.join(f, sym.b == f._fid).select(
        F.col("a").alias("node"), "_feat"
    )
    if include_self:
        contrib = contrib.unionByName(
            f.select(F.col("_fid").alias("node"), "_feat")
        )
    flat = contrib.select(
        "node", F.posexplode("_feat").alias("dim", "_v")
    )
    return flat.groupBy("node", "dim").agg(
        (
            F.sum(F.col("_v").cast("double"))
            / F.count("*").cast("double")
        ).alias("mean"),
        F.count("*").cast("bigint").alias("n_contrib"),
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    damping: float = 0.85,
    iters: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Personalized PageRank (random walk with restart to a SEED set):
    rank_{i+1}(v) = (1-d) * reset(v) + d * sum_u rank_i(u)/out_deg(u),
    reset uniform over ``seeds`` and zero elsewhere, start = reset.
    The standard KG relatedness query — "which concepts/entities are
    close to THIS seed set" (query-biased entity ranking, related-
    concept expansion) — where global :func:`pagerank` answers "which
    nodes are central overall". Fixed ``iters`` from a deterministic
    start, same discipline as q113, so q137's oracle unrolls the
    identical arithmetic; dangling mass is dropped, as in
    :func:`pagerank` (documented simplification).

    Plan per iteration: identical shape to :func:`pagerank` (one
    rank-onto-edges equi-join + one dst-keyed aggregate + a node-set
    left join); the reset vector is a broadcast-joined flag column
    computed once.
    """
    # Same shape as :func:`pagerank`: one exchange of the edge table
    # total (hash-partitioned on the source key, cached), degree
    # aggregate exchange-free on top of it, degree attached to the
    # rank side per round, node set from degree keys + distinct
    # destinations.
    seed_nodes = seeds.select(
        F.col(seeds.columns[0]).alias("node")
    ).distinct()
    n_seeds = seed_nodes.count()
    if n_seeds == 0:
        raise ValueError("personalized_pagerank needs at least one seed")
    ep = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_t")).repartition(
        "_s"
    )
    deg = ep.groupBy("_s").agg(F.count("*").alias("_od"))
    # The node universe is edges ∪ seeds: a seed with no incident edge
    # still owns 1/n_seeds of the reset mass and must appear in the
    # output rank vector (otherwise its mass silently vanishes and
    # every other rank is deflated).
    nodes = (
        deg.select(F.col("_s").alias("node"))
        .unionByName(ep.select(F.col("_t").alias("node")).distinct())
        .unionByName(seed_nodes)
        .distinct()
        .join(
            F.broadcast(seed_nodes.withColumn("_is_seed", F.lit(True))),
            on="node",
            how="left",
        )
        .select(
            "node",
            F.coalesce("_is_seed", F.lit(False)).alias("_is_seed"),
        )
    )
    reset = F.when(
        F.col("_is_seed"), F.lit(1.0) / F.lit(float(n_seeds))
    ).otherwise(F.lit(0.0))

    def step(rank, i):
        w = deg.join(rank.withColumnRenamed("node", "_s"), on="_s").select(
            "_s", (F.col("rank") / F.col("_od")).alias("_w")
        )
        contrib = (
            ep.join(w, on="_s")
            .groupBy(F.col("_t").alias("node"))
            .agg(F.sum("_w").alias("_in"))
        )
        return nodes.join(contrib, on="node", how="left").select(
            "node",
            (
                F.lit(1.0 - damping) * reset
                + F.lit(damping) * F.coalesce(F.col("_in"), F.lit(0.0))
            ).alias("rank"),
        )

    return iterate(
        nodes.select("node", reset.alias("rank")),
        step,
        rounds=iters,
        invariants=(ep, deg, nodes),
    )


def hits(
    edges: DataFrame,
    iters: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over a directed edge
    table, FIXED iteration count from the all-ones start, L1 (sum)
    normalized. Returns (node, hub, auth).

    L1 rather than the textbook L2 normalization is deliberate: both
    contract engines then evaluate only +,/ over the same operands
    (sqrt of a global float sum is the one op whose last-ulp noise a
    ROUND cannot always absorb). Mutual reinforcement, convergence,
    and ranking order are unchanged — L1/L2 differ by a positive
    scalar per step, which normalization cancels at the fixpoint.

    Plan per iteration: each half-step is one equi-join of the score
    vector onto the edge list + one keyed sum — the same shuffle shape
    as :func:`pagerank`, so the 100-TB story (edge table partitioned by
    join key, score vector node-keyed, map-side combine on the sums)
    carries over. Normalizing once at the end equals normalizing every
    half-step; unnormalized scores grow at most by the max degree per
    half-step, far inside double range for any practical ``iters``.
    """
    if iters < 1:
        raise ValueError("hits needs iters >= 1 (auth is undefined at h0)")
    # Each half-step joins the edge table on a DIFFERENT key (_s for
    # the auth push, _t for the hub pull), so one copy is cached
    # hash-partitioned per orientation and every one of the 2*iters
    # joins reuses it. A loop round is one half-step. L1 normalization
    # is a positive scalar per half-step, which the next half-step's
    # sums carry along unchanged, so scores propagate unnormalized
    # (each half-step reads its input once) and both vectors are
    # normalized once at the end.
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_t"))
    ep_s = e.repartition("_s")
    ep_t = e.repartition("_t")
    # per-side distincts run exchange-free on the cached partitioning;
    # only the final |V|-sized union pays a shuffle
    nodes = (
        ep_s.select(F.col("_s").alias("node")).distinct()
        .unionByName(ep_t.select(F.col("_t").alias("node")).distinct())
        .distinct()
    )

    def half_step(score, i):
        # even i: authorities sum the hub scores of their in-neighbors;
        # odd i: hubs sum the authority scores of their out-neighbors
        ep, key, to, old, new = (
            (ep_s, "_s", "_t", "hub", "auth")
            if i % 2 == 0
            else (ep_t, "_t", "_s", "auth", "hub")
        )
        raw = (
            ep.join(score.select(F.col("node").alias(key), old), on=key)
            .groupBy(F.col(to).alias("node"))
            .agg(F.sum(old).alias("_raw"))
        )
        out = nodes.join(raw, on="node", how="left").select(
            "node", F.coalesce("_raw", F.lit(0.0)).alias(new)
        )
        # the last half-step (a hub update) carries the final authorities
        return out.join(score, on="node") if i == 2 * iters - 1 else out

    out = iterate(
        nodes.select("node", F.lit(1.0).alias("hub")),
        half_step,
        rounds=2 * iters,
        invariants=(ep_s, ep_t, nodes),
    )
    hub_sum, auth_sum = out.agg(F.sum("hub"), F.sum("auth")).first()
    return out.select(
        "node",
        (F.col("hub") / F.lit(hub_sum)).alias("hub"),
        (F.col("auth") / F.lit(auth_sum)).alias("auth"),
    )


def k_core(
    edges: DataFrame,
    k: int = 2,
    iters: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-core decomposition membership: iteratively peel nodes of
    degree < k from the undirected graph (self-loops and duplicate /
    reversed edges normalized away) for exactly ``iters`` rounds;
    return the surviving nodes with their WITHIN-CORE degree as
    (node, core_degree). Peeling is monotone, so once the node set is
    stable further rounds are no-ops — a fixed ``iters`` large enough
    to converge yields the true k-core while keeping the computation
    a deterministic unrollable function for the contract oracle
    (q141). Production runs the same loop convergence-gated (stop
    when the peel removes 0 nodes, one extra count per round).

    Plan per round: one node-keyed window count over the edges'
    endpoint rows + one edge-keyed min — no joins and no wedge
    materialization anywhere, so hubs cost their degree, never
    degree^2.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )

    def peel(und, i):
        # an edge survives iff both ends have degree >= k: the degree is
        # a window count over the edge's two endpoint rows
        ends = und.select("a", "b", F.explode(F.array("a", "b")).alias("_n"))
        return (
            ends.withColumn("_d", F.count("*").over(Window.partitionBy("_n")))
            .groupBy("a", "b")
            .agg(F.min("_d").alias("_d"))
            .filter(F.col("_d") >= k)
            .select("a", "b")
        )

    und = iterate(
        e.select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct(),
        peel,
        rounds=iters,
    )
    sym = und.unionByName(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    return sym.groupBy(F.col("a").alias("node")).agg(
        F.count("*").cast("bigint").alias("core_degree")
    )


def link_prediction(
    edges: DataFrame,
    min_cn: int = 1,
    max_center_degree: int | None = None,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Neighborhood-overlap link prediction over the undirected graph:
    for every non-adjacent node pair (a < b) sharing >= ``min_cn``
    common neighbors, emit the three classic scores —
    (node_a, node_b, common_neighbors, jaccard, adamic_adar), with
    jaccard = |cn| / (deg(a) + deg(b) - |cn|) and adamic_adar =
    sum over shared neighbors z of 1/ln(deg(z)) (Liben-Nowell &
    Kleinberg 2003). The standard missing-edge proposal pass a KG
    construction pipeline runs after entity linking: candidate
    has_phenotype / related_to edges ranked for review.

    Scale: candidate pairs are generated ONLY by the wedge join at a
    shared neighbor — two rows of the symmetric edge list joined on
    the center — never an all-pairs product. The wedge fan-out at a
    center of degree d is d^2/2; ``max_center_degree`` (the standard
    hub cut: Twitter-scale pipelines drop celebrity centers) bounds
    the worst key at the cost of losing pairs whose ONLY shared
    neighbors are super-hubs — an explicit, documented recall trade.
    deg(z) >= 2 for every wedge center, so ln(deg) is never 0.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    und = (
        e.select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sym = und.unionByName(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count("*").alias("_deg")
    )
    center = deg.withColumnRenamed("node", "z").withColumnRenamed("_deg", "_dz")
    if max_center_degree is not None:
        center = center.filter(F.col("_dz") <= max_center_degree)
    n1 = sym.select(F.col("a").alias("z"), F.col("b").alias("x"))
    n2 = sym.select(F.col("a").alias("z"), F.col("b").alias("y"))
    wedges = (
        n1.join(n2, on="z")
        .filter(F.col("x") < F.col("y"))
        .join(center, on="z")
    )
    pairs = wedges.groupBy(
        F.col("x").alias("node_a"), F.col("y").alias("node_b")
    ).agg(
        F.count("*").cast("bigint").alias("common_neighbors"),
        F.sum(F.lit(1.0) / F.log(F.col("_dz").cast("double"))).alias(
            "adamic_adar"
        ),
    )
    # drop pairs that are already edges (we predict MISSING links)
    pairs = pairs.join(
        und.select(
            F.col("a").alias("node_a"), F.col("b").alias("node_b")
        ),
        on=["node_a", "node_b"],
        how="anti",
    ).filter(F.col("common_neighbors") >= min_cn)
    da = deg.select(F.col("node").alias("node_a"), F.col("_deg").alias("_da"))
    db = deg.select(F.col("node").alias("node_b"), F.col("_deg").alias("_db"))
    return (
        pairs.join(da, on="node_a")
        .join(db, on="node_b")
        .select(
            "node_a",
            "node_b",
            "common_neighbors",
            (
                F.col("common_neighbors").cast("double")
                / (F.col("_da") + F.col("_db") - F.col("common_neighbors")).cast(
                    "double"
                )
            ).alias("jaccard"),
            "adamic_adar",
        )
    )


def cooccurrence_stats(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_pair_count: int = 2,
) -> DataFrame:
    """Item co-occurrence association stats (support / confidence /
    lift) over (group, item) observations — the edge-weighting pass
    that turns per-document concept annotations into a weighted
    concept-concept co-occurrence graph (e.g. HPO terms that appear
    in the same clinical note more often than chance). Emits, for
    each unordered item pair (a < b) co-occurring in >=
    ``min_pair_count`` groups: pair_count, support = pair/N,
    lift = pair*N / (count_a*count_b), conf_a_b = pair/count_a,
    conf_b_a = pair/count_b.

    Scale: (group, item) is deduplicated first (one narrow distinct),
    pair generation is a self-join keyed on the GROUP — fan-out per
    group is items_per_group^2, bounded by document length, never by
    corpus size; item marginals are broadcast back onto the
    pair-count table (item-cardinality side, dim-sized).
    """
    gi = df.select(
        F.col(group_col).alias("g"), F.col(item_col).alias("item")
    ).distinct().localCheckpoint(eager=True)
    n_groups = F.broadcast(
        gi.agg(F.countDistinct("g").cast("double").alias("_n"))
    )
    marg = gi.groupBy("item").agg(F.count("*").alias("_c"))
    a = gi.select("g", F.col("item").alias("item_a"))
    b = gi.select("g", F.col("item").alias("item_b"))
    pair = (
        a.join(b, on="g")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").cast("bigint").alias("pair_count"))
        .filter(F.col("pair_count") >= min_pair_count)
    )
    ma = F.broadcast(
        marg.select(F.col("item").alias("item_a"), F.col("_c").alias("_ca"))
    )
    mb = F.broadcast(
        marg.select(F.col("item").alias("item_b"), F.col("_c").alias("_cb"))
    )
    return (
        pair.join(ma, on="item_a")
        .join(mb, on="item_b")
        .crossJoin(n_groups)
        .select(
            "item_a",
            "item_b",
            "pair_count",
            (F.col("pair_count") / F.col("_n")).alias("support"),
            (
                F.col("pair_count").cast("double")
                * F.col("_n")
                / (F.col("_ca").cast("double") * F.col("_cb").cast("double"))
            ).alias("lift"),
            (F.col("pair_count") / F.col("_ca").cast("double")).alias("conf_a_b"),
            (F.col("pair_count") / F.col("_cb").cast("double")).alias("conf_b_a"),
        )
    )


def graph_summary(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """One-row structural profile of the undirected graph: node/edge
    counts, mean and max degree, and Newman degree assortativity
    (Pearson correlation of endpoint degrees over the symmetrized
    edge list) — the sanity dashboard a KG build emits per snapshot
    so drift (hub growth, fragmentation) is caught before downstream
    jobs consume the graph.

    The correlation is computed from EXACT integer sums (n, Σx, Σxy,
    Σx², with Σx=Σy and Σx²=Σy² by symmetry) and only converted to
    double at the final expression, so both contract engines (q145)
    evaluate identical operands. Plan: one degree aggregate + one
    broadcast of the dim-sized degree table back onto edges + a
    single global aggregate — map-side combinable throughout.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    und = (
        e.select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sym = und.unionByName(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count("*").alias("d")
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("_da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("_db"))
    joined = sym.join(da, on="a").join(db, on="b")
    stats = joined.agg(
        F.count("*").alias("_n"),  # = 2 * n_edges
        F.sum("_da").alias("_sx"),
        F.sum(F.col("_da") * F.col("_db")).alias("_sxy"),
        F.sum(F.col("_da") * F.col("_da")).alias("_sxx"),
    )
    counts = F.broadcast(
        deg.agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            F.max("d").cast("bigint").alias("max_degree"),
        )
    )
    num = (
        F.col("_n").cast("double") * F.col("_sxy").cast("double")
        - F.col("_sx").cast("double") * F.col("_sx").cast("double")
    )
    den = (
        F.col("_n").cast("double") * F.col("_sxx").cast("double")
        - F.col("_sx").cast("double") * F.col("_sx").cast("double")
    )
    return stats.crossJoin(counts).select(
        "n_nodes",
        (F.col("_n") / F.lit(2)).cast("bigint").alias("n_edges"),
        # mean degree = 2E/N = |sym| / N  (_sx is Σdeg², used by r only)
        (F.col("_n").cast("double") / F.col("n_nodes").cast("double")).alias(
            "avg_degree"
        ),
        "max_degree",
        F.when(den != 0, num / den).alias("assortativity"),
    )


def ranking_metrics(
    scored: DataFrame,
    query_col: str = "query_id",
    cand_col: str = "candidate",
    score_col: str = "score",
    label_col: str = "is_positive",
    ks: tuple = (1, 3, 10),
) -> DataFrame:
    """Link-prediction / KG-embedding ranking evaluation: MRR and
    Hits@k over per-query scored candidate lists.

    ``scored`` holds one row per (query, candidate) with a model score
    and a boolean positive label; per query the positive's rank is its
    1-based position ordering by (score DESC, candidate ASC) — the
    candidate tiebreak makes ranks a pure function of the input, so
    re-runs and engines agree. Queries with no positive row are
    dropped (standard filtered-eval convention); a query with several
    positives contributes its best-ranked one.

    Returns ONE row: (n_queries, mrr, hits_1, hits_3, ..., mean_rank),
    floats rounded to 6.

    Scale shape: one row_number window keyed by query (per-partition
    size = that query's candidate count, the natural unit), then a
    single global aggregate of per-query scalars. No per-query
    collect; the candidate table is the only corpus-sized input.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(query_col).orderBy(
        F.col(score_col).desc(), F.col(cand_col).asc()
    )
    ranked = scored.withColumn("_rank", F.row_number().over(w))
    best_pos = (
        ranked.filter(F.col(label_col))
        .groupBy(query_col)
        .agg(F.min("_rank").alias("rank"))
    )
    aggs = [
        F.count("*").alias("n_queries"),
        F.round(F.avg(1.0 / F.col("rank")), 6).alias("mrr"),
    ]
    for k in ks:
        aggs.append(
            F.round(
                F.avg((F.col("rank") <= k).cast("double")), 6
            ).alias(f"hits_{k}")
        )
    aggs.append(F.round(F.avg("rank"), 6).alias("mean_rank"))
    return best_pos.agg(*aggs)


def calibration_bins(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "is_positive",
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram for extraction confidences: bucket scores
    into ``n_bins`` equal-width bins over [0, 1] and report observed
    precision per bin — the calibration check for ``pool_evidence``'s
    fused triple confidences (a calibrated extractor has
    frac_positive ≈ mean_score per bin; systematic gaps feed a Platt /
    isotonic correction downstream).

    Returns (bin, bin_lo, n, mean_score, frac_positive) with floats
    rounded to 6; scores outside [0, 1] clamp into the edge bins. One
    map-side-combinable groupBy on the bin key — no window, no sort.
    """
    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    b = F.least(
        F.greatest(F.floor(F.col(score_col) * n_bins).cast("int"), F.lit(0)),
        F.lit(n_bins - 1),
    )
    return (
        scored.select(
            b.alias("bin"),
            F.col(score_col).alias("_s"),
            F.col(label_col).cast("double").alias("_y"),
        )
        .groupBy("bin")
        .agg(
            F.round(F.min(F.col("bin") / F.lit(float(n_bins))), 6).alias("bin_lo"),
            F.count("*").alias("n"),
            F.round(F.avg("_s"), 6).alias("mean_score"),
            F.round(F.avg("_y"), 6).alias("frac_positive"),
        )
    )


def hyperball(
    edges: DataFrame,
    radius: int = 3,
    p: int = 9,
    src: str = "src",
    dst: str = "dst",
    directed: bool = False,
) -> DataFrame:
    """HyperBall (Boldi & Vigna 2013): the neighborhood function of a
    graph — |ball(u, r)| = how many nodes are within r hops of u, for
    every node and every radius 0..``radius`` — estimated with
    per-node HyperLogLog counters instead of materialized reachable
    sets. Exact ball computation is quadratic in the worst case
    (reach_r blows up toward n^2 pairs on dense graphs); HyperBall
    keeps O(n * 2^p) state TOTAL and each round is one equi-join +
    one keyed max — this is how effective-diameter / centrality
    statistics are computed on web-scale graphs, and the natural
    "how far does influence travel" statistic for a KG's entity
    graph.

    Register recurrence: counter(u, r+1) = counter(u, r) merged (by
    per-bucket max) with counter(w, r) for every out-edge u -> w.
    Registers live SPARSELY as (node, bucket, rho) rows — a node's
    row count is min(|ball|, 2^p), so early rounds are far below the
    dense 2^p bound; merges are groupBy-max, map-side combinable.
    Hashes derive from md5 (sketches._md5_u32), so
    registers AND estimates are cross-engine exact (q120 property);
    the estimate stage is shared via
    sketches.hll_estimate_from_registers.

    Returns (node, radius, n_buckets, est) for radius 0..``radius``;
    ``est`` at radius 0 is the linear-counting-corrected estimate of
    1 (exactly ``m * ln(m / (m - 1))``).
    """
    if radius < 0:
        raise ValueError("radius must be >= 0")
    from .sketches import hll_estimate_from_registers, hll_registers

    e = edges.select(
        F.col(src).cast("string").alias("u"),
        F.col(dst).cast("string").alias("v"),
    ).filter(F.col("u") != F.col("v"))
    if not directed:
        e = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    e = e.distinct()
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
    )
    # self-loops make each node merge its own registers with its
    # out-neighbors' in the same join
    reach = e.unionByName(nodes.select(F.col("node").alias("u"), F.col("node").alias("v")))
    reach = reach.repartition("v")

    # the state holds the registers of every radius so far, tagged
    def step(regs, r):
        hop = regs.join(
            reach, (regs.node == reach.v) & (regs.radius == r), "left"
        ).select(
            "bucket",
            "rho",
            F.explode(
                F.array(
                    F.struct("node", "radius"),
                    F.when(
                        F.col("u").isNotNull(),
                        F.struct(F.col("u").alias("node"), F.lit(r + 1).alias("radius")),
                    ),
                )
            ).alias("_x"),
        )
        return (
            hop.filter(F.col("_x").isNotNull())
            .select("_x.*", "bucket", "rho")
            .groupBy("node", "bucket", "radius")
            .agg(F.max("rho").alias("rho"))
        )

    regs = iterate(
        hll_registers(
            nodes.select("node", F.col("node").alias("member")),
            "member",
            ["node"],
            p=p,
        ).withColumn("radius", F.lit(0)),
        step,
        rounds=radius,
        invariants=(reach,),
    )
    return hll_estimate_from_registers(regs, ["node", "radius"], p=p).select(
        "node", "radius", "n_buckets", "est"
    )


def neighborhood_function(hb: DataFrame) -> DataFrame:
    """Collapse a :func:`hyperball` table to the graph's neighborhood
    function N(r) = sum over nodes of |ball(node, r)| — the curve whose
    saturation point is the graph's (effective) diameter. One tiny
    radius-keyed aggregate over an already-node-collapsed input."""
    return (
        hb.groupBy("radius")
        .agg(F.sum("est").alias("n_pairs"))
        .orderBy("radius")
    )


def effective_diameter(hb: DataFrame, quantile: float = 0.9) -> float:
    """Effective diameter at ``quantile`` (Palmer et al. 2002 /
    HyperBall's headline statistic): the interpolated radius r at
    which N(r) first reaches quantile * N(r_max). Returns a float
    (driver-side — the neighborhood function has one row per radius,
    never corpus-sized). Linear interpolation between the bracketing
    radii, matching the convention of the ANF/HyperBall literature."""
    if not 0.0 < quantile <= 1.0:
        raise ValueError("quantile must be in (0, 1]")
    nf = [(r.radius, r.n_pairs) for r in neighborhood_function(hb).collect()]
    if not nf:
        raise ValueError("empty hyperball table")
    target = quantile * nf[-1][1]
    prev_r, prev_n = nf[0]
    if prev_n >= target:
        return float(prev_r)
    for r, n in nf[1:]:
        if n >= target:
            return prev_r + (target - prev_n) / (n - prev_n) * (r - prev_r)
        prev_r, prev_n = r, n
    return float(nf[-1][0])


def harmonic_centrality(hb: DataFrame) -> DataFrame:
    """Harmonic centrality estimated from :func:`hyperball` counters
    (Boldi & Vigna 2014, "Axioms for centrality": HyperBall's headline
    per-node statistic): H(u) = sum over reachable v != u of
    1/d(u, v), rewritten radius-wise as
    sum_{r>=1} (|ball(u, r)| - |ball(u, r-1)|) / r — each shell of
    newly reached nodes contributes at weight 1/r.

    Exact harmonic centrality needs all-pairs distances (n BFS runs);
    this is the sketch form every web-scale graph system actually
    ships. Input is the (node, radius, est) table hyperball already
    produced, so the whole operator is one window lag + one keyed
    aggregate over n*(R+1) rows — no further graph traversal. Because
    hyperball's registers are md5-derived (q120 property), the
    ESTIMATES themselves are deterministic and cross-engine exact,
    which is what lets the q176 contract oracle recompute them in SQL.

    Returns (node, harmonic) with harmonic rounded to 4 decimals.
    """
    w = Window.partitionBy("node").orderBy("radius")
    shells = hb.select(
        "node",
        "radius",
        (F.col("est") - F.lag("est").over(w)).alias("shell"),
    ).filter(F.col("radius") >= 1)
    return (
        shells.groupBy("node")
        .agg(F.round(F.sum(F.col("shell") / F.col("radius")), 4).alias("harmonic"))
        .orderBy("node")
    )


def modularity(
    edges: DataFrame,
    communities: DataFrame,
    node_col: str = "node",
    community_col: str = "community",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Newman modularity decomposed per community (Newman & Girvan
    2004): for an undirected graph with m edges, community c
    contributes  Q_c = L_c / m - (D_c / 2m)^2  where L_c is the edge
    count inside c and D_c the sum of member degrees; Q = sum Q_c.
    This is THE quality gate for the label-propagation communities
    (:func:`label_propagation` / q127) — a partition whose Q is ~0 is
    no better than random, and at 10^12-file scale nobody eyeballs
    clusters.

    Plan shape: edges are canonicalized once (u < v, distinct); the
    community map joins onto each endpoint (two hash joins keyed on
    the node — the same key space the partition itself lives in);
    both aggregates (within-edges per community, degree mass per
    community) are map-side combinable with community-bounded
    cardinality. No per-row Python, no self-join, nothing quadratic:
    cost is O(m) rows through two joins regardless of community
    sizes — hub communities concentrate into ONE combiner key, the
    classic aggregate shape.

    Returns (community, within_edges, degree_sum, contribution)
    with contribution rounded to 6 decimals.
    """
    e = (
        edges.select(
            F.least(F.col(src).cast("string"), F.col(dst).cast("string")).alias("u"),
            F.greatest(F.col(src).cast("string"), F.col(dst).cast("string")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    com = communities.select(
        F.col(node_col).cast("string").alias("node"),
        F.col(community_col).cast("string").alias("community"),
    )
    m = e.count()
    if m == 0:
        raise ValueError("modularity needs at least one edge")
    labeled = (
        e.join(com.select(F.col("node").alias("u"), F.col("community").alias("cu")), "u")
        .join(com.select(F.col("node").alias("v"), F.col("community").alias("cv")), "v")
    )
    within = (
        labeled.filter(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("community"))
        .agg(F.count("*").alias("within_edges"))
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
        .join(com, "node")
        .groupBy("community")
        .agg(F.sum("deg").alias("degree_sum"))
    )
    return (
        deg.join(within, "community", "left")
        .select(
            "community",
            F.coalesce("within_edges", F.lit(0)).cast("bigint").alias("within_edges"),
            F.col("degree_sum").cast("bigint").alias("degree_sum"),
            F.round(
                F.coalesce("within_edges", F.lit(0)) / F.lit(float(m))
                - F.pow(F.col("degree_sum") / F.lit(2.0 * m), F.lit(2.0)),
                6,
            ).alias("contribution"),
        )
        .orderBy("community")
    )


def refine_communities(
    edges: DataFrame,
    communities: DataFrame,
    node_col: str = "node",
    community_col: str = "community",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """One synchronous round of Louvain phase-1 refinement (Blondel
    et al. 2008, in the parallel form every distributed Louvain uses):
    each node evaluates moving into each NEIGHBORING community c and
    takes the modularity gain

        dQ(u -> c) = k_{u,c}/m  -  k_u * (D_c - [c = cur] * k_u) / (2 m^2)

    (k_{u,c} = edges from u into c; D_c = community degree mass with
    u's own degree removed when c is u's current community, so "stay"
    is scored by the same formula). The argmax community wins;
    ties break toward the smaller community id so the synchronous
    sweep is deterministic — classic Louvain is inherently
    sequential, so one PARALLEL sweep is the honest distributed unit;
    iterate to taste and gate each round with :func:`modularity`.

    Plan shape: degrees, community masses and (u, c) edge weights are
    all combinable keyed aggregates off the symmetrized edge list;
    the candidate set per node is its neighboring communities plus
    "stay" (a union + left join, node-keyed); argmax is one window
    over per-node candidate rows, partitioned on the node — bounded
    by degree, never corpus-wide. No collect except the edge count.

    Returns (node, community_old, community_new, gain) with gain
    rounded to 9 decimals (the argmax ranks on the rounded value, so
    the choice is reproducible across engines and platforms).
    """
    e = (
        edges.select(
            F.least(F.col(src).cast("string"), F.col(dst).cast("string")).alias("u"),
            F.greatest(F.col(src).cast("string"), F.col(dst).cast("string")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    m = e.count()
    if m == 0:
        raise ValueError("refine_communities needs at least one edge")
    com = communities.select(
        F.col(node_col).cast("string").alias("node"),
        F.col(community_col).cast("string").alias("community"),
    )
    adj = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = adj.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("k"))
    dcom = (
        deg.join(com, "node")
        .groupBy("community")
        .agg(F.sum("k").alias("d_c"))
    )
    # k_{u,c}: edge mass from each node into each neighboring community
    kuc = (
        adj.join(
            com.select(F.col("node").alias("v"), F.col("community").alias("c")),
            "v",
        )
        .groupBy(F.col("u").alias("node"), "c")
        .agg(F.count("*").alias("k_uc"))
    )
    cur = com.select("node", F.col("community").alias("cur"))
    # candidates = neighboring communities UNION the current one (stay
    # must be scored even when u has no intra-community edge)
    cand = (
        kuc.unionByName(
            cur.select("node", F.col("cur").alias("c"), F.lit(0).alias("k_uc"))
        )
        .groupBy("node", "c")
        .agg(F.max("k_uc").alias("k_uc"))
    )
    scored = (
        cand.join(cur, "node")
        .join(deg, "node")
        .join(dcom.select(F.col("community").alias("c"), "d_c"), "c")
        .select(
            "node",
            F.col("cur").alias("community_old"),
            "c",
            F.round(
                F.col("k_uc") / F.lit(float(m))
                - F.col("k")
                * (
                    F.col("d_c")
                    - F.when(F.col("c") == F.col("cur"), F.col("k")).otherwise(0)
                )
                / F.lit(2.0 * m * m),
                9,
            ).alias("gain"),
        )
    )
    w = Window.partitionBy("node").orderBy(F.col("gain").desc(), F.col("c").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("node", "community_old", F.col("c").alias("community_new"), "gain")
        .orderBy("node")
    )


def edge_triangle_support(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-EDGE triangle support over an undirected graph: for every
    distinct edge (u, v) with u < v, the number of triangles that
    contain it — the quantity k-truss peeling and cohesive-subgraph
    mining consume (an edge in a k-truss needs support >= k-2).

    Same degree-orientation discipline as :func:`triangle_count`
    (Suri-Vassilvitskii): every triangle is enumerated exactly once at
    its lowest-(degree, id) vertex, so hub nodes produce no wedge
    fan-out and the wedge volume keeps the O(m^{3/2}) bound. Each
    found triangle is then exploded into its three edges in CANONICAL
    (min-id, max-id) form — note the canonical key deliberately
    differs from the (degree, id) orientation used for enumeration —
    and the support is one map-side-combinable count, left-joined back
    onto the edge set so triangle-free edges report 0.

    Returns (u, v, support) with u < v, sorted.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    und = (
        e.select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sym = und.unionByName(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy(F.col("a").alias("node")).agg(F.count("*").alias("degree"))
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("_da"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("_db"))
    ranked = und.join(da, on="a").join(db, on="b")
    fwd = F.struct(F.col("_da"), F.col("a")) < F.struct(F.col("_db"), F.col("b"))
    oriented = ranked.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("hi"),
    ).localCheckpoint(eager=True)
    o1 = oriented.select(F.col("lo").alias("w"), F.col("hi").alias("x"))
    o2 = oriented.select(F.col("lo").alias("w"), F.col("hi").alias("y"))
    dx = deg.select(F.col("node").alias("x"), F.col("degree").alias("_dx"))
    dy = deg.select(F.col("node").alias("y"), F.col("degree").alias("_dy"))
    wedges = (
        o1.join(o2, on="w")
        .join(dx, on="x")
        .join(dy, on="y")
        .filter(
            F.struct(F.col("_dx"), F.col("x")) < F.struct(F.col("_dy"), F.col("y"))
        )
        .select("w", "x", "y")
    )
    tris = wedges.join(
        oriented.select(F.col("lo").alias("x"), F.col("hi").alias("y")),
        on=["x", "y"],
    )
    tri_edges = (
        tris.select(F.col("w").alias("p"), F.col("x").alias("q"))
        .unionByName(tris.select(F.col("w").alias("p"), F.col("y").alias("q")))
        .unionByName(tris.select(F.col("x").alias("p"), F.col("y").alias("q")))
        .select(F.least("p", "q").alias("a"), F.greatest("p", "q").alias("b"))
    )
    support = tri_edges.groupBy("a", "b").agg(F.count("*").alias("support"))
    return (
        und.join(support, on=["a", "b"], how="left")
        .select(
            F.col("a").alias("u"),
            F.col("b").alias("v"),
            F.coalesce("support", F.lit(0)).cast("bigint").alias("support"),
        )
        .orderBy("u", "v")
    )


def k_truss(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 30,
) -> DataFrame:
    """Maximal k-truss (Cohen 2008): the largest edge subset in which
    every edge participates in >= k-2 triangles WITHIN the subset —
    the standard cohesive-community core, stricter than k-core and
    the usual next step after :func:`triangle_count` flags dense
    regions. Iterative peel: recompute per-edge support on the
    surviving edges (each round is the verified
    :func:`edge_triangle_support` plan) and drop edges below k-2
    until a fixpoint; rounds are bounded by the peel depth and each
    strictly shrinks the edge set. Warns if ``max_iters`` runs out
    first. Returns the surviving (u, v) edges, u < v.
    """
    if k < 2:
        raise ValueError("k must be >= 2")

    def peel(cur, i):
        return (
            edge_triangle_support(cur, src="a", dst="b")
            .filter(F.col("support") >= k - 2)
            .select(F.col("u").alias("a"), F.col("v").alias("b"))
        )

    cur = iterate(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct(),
        peel,
        rounds=max_iters,
        until=lambda s: s.count(),
    )
    return cur.select(F.col("a").alias("u"), F.col("b").alias("v")).orderBy("u", "v")


def wl_refinement(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
    labels: DataFrame | None = None,
) -> DataFrame:
    """1-dimensional Weisfeiler-Leman color refinement (Weisfeiler &
    Leman 1968; Shervashidze et al. 2011 WL-kernel form): ``rounds``
    iterations of color(v) <- md5(color(v) || '|' || sorted multiset
    of neighbor colors) over the undirected graph. The resulting
    colors are structural-role signatures: two nodes share a color
    iff 1-WL cannot distinguish their rooted neighborhoods to this
    depth — the standard cheap test for structurally-equivalent
    entities (duplicate subgraphs from template-generated pages,
    interchangeable intermediate nodes) before any embedding model.

    `labels` optionally seeds round 0 with (node, label) attribute
    colors; unlabeled graphs start uniform ('0'), matching the WL
    kernel convention.

    Scale shape: each round is one node-keyed equi-join (colors onto
    edge endpoints) + one groupBy(node) with sort_array(collect_list)
    — payload per node is its degree, so the only skew risk is the
    hub-degree row, the same row every neighborhood aggregation in
    this module carries (label propagation, feature propagation).
    md5 keeps colors 32 bytes regardless of round, so state does NOT
    grow with iteration — the naive string-concat WL explodes
    exponentially. Colors are engine-portable (md5 over canonical
    strings), so a SQL twin reproduces them bit-for-bit.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    e = edges.select(
        F.col(src).cast("string").alias("a"),
        F.col(dst).cast("string").alias("b"),
    ).filter(F.col("a") != F.col("b"))
    und = e.select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")).distinct()
    sym = und.unionByName(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    nodes = sym.select(F.col("a").alias("node")).distinct()
    # each node reads its own color (_own) and its neighbors' in one join
    adj = (
        sym.withColumn("_own", F.lit(False))
        .unionByName(nodes.select(F.col("node").alias("a"), F.col("node").alias("b"), F.lit(True).alias("_own")))
        .repartition("b")
    )
    if labels is not None:
        lab = labels.select(
            F.col(labels.columns[0]).cast("string").alias("node"),
            F.col(labels.columns[1]).cast("string").alias("color"),
        )
        color = nodes.join(lab, "node", "left").select(
            "node", F.coalesce("color", F.lit("0")).alias("color")
        )
    else:
        color = nodes.select("node", F.lit("0").alias("color"))

    def step(color, i):
        seen = adj.join(color.withColumnRenamed("node", "b"), "b")
        nbr = F.collect_list(F.when(~F.col("_own"), F.col("color")))
        return seen.groupBy(F.col("a").alias("node")).agg(
            F.md5(
                F.concat_ws(
                    "|",
                    F.max(F.when(F.col("_own"), F.col("color"))),
                    F.concat_ws(",", F.sort_array(nbr)),
                )
            ).alias("color")
        )

    return iterate(color, step, rounds=rounds, invariants=(adj,))


def pathsim_topk(
    edges: DataFrame,
    k: int = 5,
    a_col: str = "a",
    b_col: str = "b",
    max_b_degree: int | None = None,
) -> DataFrame:
    """PathSim top-k (Sun et al., VLDB 2011) over the symmetric
    metapath A-B-A of a bipartite (a, b) edge set: for entities of
    type A linked through shared type-B neighbors,
    ``pathsim(x, y) = 2·|B(x) ∩ B(y)| / (|B(x)| + |B(y)|)`` — the
    path-count form 2·M_xy / (M_xx + M_yy) specialises to distinct-B
    counts when the bipartite edges are deduplicated first, which
    this operator enforces. Emits each anchor's top-k partners,
    ``(anchor, partner, common_b, pathsim, rank)``, tie-broken
    deterministically (score desc, partner asc).

    Scale shape: co-occurring pairs come from ONE self-equi-join on
    the b key — fan-out per b is degree², so a hot b (a mega-order, a
    template page) is the quadratic risk; ``max_b_degree`` drops b's
    above the cap before the join (the standard PathSim pruning —
    hub b's carry near-zero specificity anyway, same argument as
    q115's max_train_df boilerplate cut). Top-k is a window keyed on
    the anchor, bounded by the anchor's candidate count, never a
    global sort.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    e = edges.select(
        F.col(a_col).alias("a"), F.col(b_col).alias("b")
    ).distinct()
    if max_b_degree is not None:
        keep = (
            e.groupBy("b")
            .agg(F.count("*").alias("_db"))
            .filter(F.col("_db") <= max_b_degree)
            .select("b")
        )
        e = e.join(keep, "b", "left_semi")
    e = e.localCheckpoint(eager=True)
    deg = e.groupBy("a").agg(F.count("*").alias("_deg"))
    pairs = (
        e.join(e.select(F.col("a").alias("a2"), "b"), "b")
        .filter(F.col("a") != F.col("a2"))
        .groupBy("a", "a2")
        .agg(F.count("*").cast("bigint").alias("common_b"))
    )
    scored = (
        pairs.join(deg.select(F.col("a"), F.col("_deg").alias("_d1")), "a")
        .join(
            deg.select(F.col("a").alias("a2"), F.col("_deg").alias("_d2")),
            "a2",
        )
        .select(
            F.col("a").alias("anchor"),
            F.col("a2").alias("partner"),
            "common_b",
            (
                F.lit(2.0)
                * F.col("common_b").cast("double")
                / (F.col("_d1") + F.col("_d2")).cast("double")
            ).alias("pathsim"),
        )
    )
    w = Window.partitionBy("anchor").orderBy(
        F.col("pathsim").desc(), F.col("partner").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("anchor", "partner", "common_b", "pathsim", "rank")
    )


def two_sweep_diameter(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Exact diameter LOWER BOUND by the classic double-sweep BFS
    (Magnien/Latapy/Habib 2009): BFS from a deterministic pivot (the
    minimum node id), hop to the farthest node found (ties broken by
    min id), BFS again — the second eccentricity is a lower bound
    that is exact on trees and empirically tight on real graphs,
    at the cost of TWO BFS passes instead of all-pairs. Complements
    q169's HyperBall (probabilistic effective diameter) with an
    exact-arithmetic bound.

    Edges are treated as undirected (symmetrized + distinct).
    Returns one row ``(pivot, far_node, diameter_lb, n_reached)``;
    ``n_reached`` is the pivot's component size — on a disconnected
    graph the bound applies to that component.

    Fully declarative: pivot and farthest node are ``orderBy().
    limit(1)`` TakeOrdered plans, never a driver collect; each BFS is
    the q122-verified semi-naive frontier join.
    """
    from .closure import bfs_distances

    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_t"))
    und = e.unionByName(
        e.select(F.col("_t").alias("_s"), F.col("_s").alias("_t"))
    ).distinct()
    sources = (
        und.select("_s").distinct().orderBy("_s").limit(1)
    )
    d1 = bfs_distances(und, sources, src="_s", dst="_t")
    far = d1.orderBy(F.desc("dist"), "node").limit(1).select("node")
    d2 = bfs_distances(und, far, src="_s", dst="_t")
    p = sources.select(F.col("_s").alias("pivot"))
    f = far.select(F.col("node").alias("far_node"))
    m = d2.agg(
        F.max("dist").cast("long").alias("diameter_lb"),
        F.count("*").cast("long").alias("n_reached"),
    )
    return p.crossJoin(f).crossJoin(m)
