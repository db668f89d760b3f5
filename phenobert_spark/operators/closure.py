"""Distributed graph fixpoints: transitive closure (SURVEY.md §2.3 J6)
and connected components (the dedup clustering stage).

The ontology closure itself is driver-side BFS (17k nodes — broadcast
territory, SURVEY.md §4 item 3). This operator is the distributed form
for graphs that do NOT fit on the driver: iterative self-join to
fixpoint with early termination, the standard semi-naive evaluation.

Scale notes: each iteration is one shuffle on the join key and the
frontier shrinks monotonically (only NEW pairs join the next round).
Caching, lineage cuts and non-convergence of every loop here follow
the one policy in ``_fixpoint``.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._fixpoint import iterate


def _last_change(state: DataFrame):
    """Convergence signature of a state whose rows carry the round
    ``_r`` they last changed in: it repeats once a round changes
    nothing."""
    return state.agg(F.max("_r")).first()[0]


def _relax(offers: DataFrame, value: str, better, i: int) -> DataFrame:
    """offers(_to, _own, <value>, _r) -> (node, <value>, _r): keep the
    ``better`` (F.min / F.max) offer per target node, one keyed
    aggregate; ``_r`` becomes ``i + 1`` where that moved the node's own
    value (a node without an own offer is new)."""
    best = (
        offers.groupBy(F.col("_to").alias("node"))
        .agg(
            better(value).alias(value),
            better(F.when(F.col("_own"), F.col(value))).alias("_old"),
            F.max(F.when(F.col("_own"), F.col("_r"))).alias("_r"),
        )
    )
    moved = F.col("_old").isNull() | (F.col(value) != F.col("_old"))
    return best.select(
        "node", value, F.when(moved, F.lit(i + 1)).otherwise(F.col("_r")).alias("_r")
    )


def _offers(state: DataFrame, edges: DataFrame, on, to: str) -> DataFrame:
    """Left join ``state`` onto ``edges`` and give every state row one
    own offer plus one offer per matched edge, addressed to the edge's
    ``to`` column. The state is read once, so the plan grows linearly
    with rounds."""
    return (
        state.join(edges, on, "left")
        .withColumn("_to", F.explode(F.array("node", to)))
        .withColumn("_own", F.col("_to").eqNullSafe(F.col("node")))
        .filter(F.col("_own") | F.col("_to").isNotNull())
    )


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 50,
) -> DataFrame:
    """Undirected connected components via hash-min label propagation:
    every node's label converges to the MINIMUM node id in its
    component. Returns (node, component); ``component == node`` marks
    the canonical representative — the standard final stage of a
    near-duplicate dedup pipeline (LSH/Jaccard pairs -> clusters ->
    keep one doc per cluster).

    Scale shape: each iteration is one left join of the labels onto
    the cached edge table (co-partitioned on the node key: labels come
    hash(node)-partitioned from the previous aggregate) plus one
    min-aggregate with map-side partial combine — no cross join, no
    collected graph. Convergence needs O(component diameter)
    iterations; near-dup graphs are dense clusters with tiny diameters
    (2-4 in practice), which is why plain hash-min is chosen over the
    alternating large-star/small-star variant (that halves iterations
    for path-shaped graphs at the cost of 2x the joins per round —
    wrong trade here). Each label carries the round ``_r`` it last
    changed, so the convergence probe is one exact scalar aggregate.
    Warns if ``max_iters`` runs out first: the labels may then split
    long-diameter components.

    ``nodes``: optional (node) DataFrame for singletons that appear in
    no edge — they come back labeled with themselves.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    endpoints = sym.select(F.col("src").alias("node")).distinct()
    if nodes is not None:
        endpoints = (
            nodes.select(F.col(nodes.columns[0]).alias("node"))
            .unionByName(endpoints)
            .distinct()
        )
    sym = sym.repartition("dst")

    def step(labels, i):
        # every node offers its label to itself and to each neighbor
        offers = _offers(labels, sym, labels.node == sym.dst, "src")
        return _relax(offers, "component", F.min, i)

    labels = iterate(
        endpoints.select(
            "node", F.col("node").alias("component"), F.lit(0).alias("_r")
        ),
        step,
        rounds=max_iters,
        until=_last_change,
        invariants=(sym,),
    )
    return labels.select("node", "component")


def transitive_closure(edges: DataFrame, max_iters: int = 30) -> DataFrame:
    """edges(child, parent) -> closure(node, anc): all (node, ancestor)
    pairs reachable through one or more parent hops.

    Semi-naive evaluation: each pair carries the round ``_r`` that
    found it, and round i extends only the pairs found in round i (the
    frontier) by one hop; a keyed min over (node, anc) keeps each
    pair's first round, so known pairs are never re-derived. Warns if
    pairs are still being found after ``max_iters`` rounds: the
    closure then misses the longer paths."""
    up = edges.select(
        F.col("child").alias("_c"), F.col("parent").alias("_p")
    ).repartition("_c")

    def step(closure, i):
        hop = closure.join(
            up, (closure.anc == up._c) & (closure._r == i), "left"
        ).select(
            "node",
            F.explode(
                F.array(
                    F.struct("anc", "_r"),
                    F.when(
                        F.col("_c").isNotNull(),
                        F.struct(F.col("_p").alias("anc"), F.lit(i + 1).alias("_r")),
                    ),
                )
            ).alias("_x"),
        )
        return (
            hop.filter(F.col("_x").isNotNull())
            .select("node", "_x.*")
            .groupBy("node", "anc")
            .agg(F.min("_r").alias("_r"))
        )

    closure = iterate(
        edges.select(
            F.col("child").alias("node"),
            F.col("parent").alias("anc"),
            F.lit(0).alias("_r"),
        ).distinct(),
        step,
        rounds=max_iters,
        until=_last_change,
        invariants=(up,),
    )
    return closure.select("node", "anc")


def transitive_reduction(
    edges: DataFrame, closure: DataFrame | None = None, max_iters: int = 30
) -> DataFrame:
    """edges(child, parent) -> the minimal edge subset with the same
    transitive closure (valid for DAGs): drop every edge (a, b) for
    which some longer path a -> .. -> b exists, i.e. (a, b) is also a
    two-hop pair of the closure. This is the post-extraction edge
    cleanup of KG construction — relation extractors emit shortcut
    is-a edges (mention links to both a term and its ancestor) that
    the reduction removes so the ontology DAG stays minimal; the
    reference's ancestor-closure dedup (util.py:1217-1224, keeping
    only the most specific HPO ID per doc) is the node-set special
    case of the same rule.

    Scale shape: one self-join of the closure keyed on the middle
    node (shuffle on `_m`), then a left-anti join back onto the edge
    set. For ontology-sized closures the anti-join side broadcasts;
    for corpus-scale graphs both sides hash-partition on
    (child, parent). No driver collection at any size.
    """
    e = edges.select("child", "parent").distinct()
    if closure is None:
        closure = transitive_closure(e, max_iters=max_iters)
    left = closure.select(
        F.col("node").alias("child"), F.col("anc").alias("_m")
    )
    right = closure.select(
        F.col("node").alias("_m"), F.col("anc").alias("parent")
    )
    two_hop = left.join(right, "_m").select("child", "parent").distinct()
    return e.join(two_hop, ["child", "parent"], "left_anti")


def cyclic_nodes(
    edges: DataFrame, closure: DataFrame | None = None, max_iters: int = 30
) -> DataFrame:
    """edges(child, parent) -> (node) for every node on a directed
    cycle — the ontology-quality gate a KG build runs BEFORE trusting
    any closure-derived semantics. Every ancestor-closure consumer
    here (IC, MICA, BMA, canonicalization, subtree filters) assumes a
    DAG; at 10^12-file scale the extracted is-a edge set WILL contain
    bad back-edges, and :func:`transitive_closure` on a cyclic input
    still terminates (the semi-naive frontier saturates — the pair
    space is finite and the left-anti guard admits each pair once)
    but silently yields self-ancestor pairs that corrupt downstream
    dedup and similarity. This gate makes the failure explicit: a
    node lies on a cycle iff the saturated closure contains
    (node, node).

    Scale shape: inherits transitive_closure's iterated broadcast-or-
    hash joins; the final filter is a narrow predicate on the closure
    — no extra shuffle beyond the closure itself, which the caller
    usually needs anyway (pass it via ``closure=`` to share the plan).
    """
    if closure is None:
        closure = transitive_closure(edges, max_iters=max_iters)
    return (
        closure.filter(F.col("node") == F.col("anc"))
        .select("node")
        .distinct()
    )


def star_components(
    star_edges: DataFrame,
    nodes: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 50,
    driver_threshold: int = 2_000_000,
) -> DataFrame:
    """Two-level connected components specialized for star-contracted
    edge tables (``dedup.lsh_star_edges``: every edge is rep -> doc).

    The iterative label propagation of :func:`connected_components`
    touches the full corpus-sized edge table EVERY round — at 1.28M
    docs that loop dominated the e2e dedup wall clock and capped its
    core-scaling. Here the iteration runs on the REP graph instead:

    1. per doc, link its reps to the doc's min rep (one window over
       the corpus — a bucket of c docs never materializes c^2 rows),
    2. label-propagate on the rep graph only — bounded by the number
       of distinct LSH buckets, typically ~#unique contents, not
       corpus size,
    3. join rep labels back onto docs (one corpus-sized equi-join).

    Labels are IDENTICAL to connected_components on the same edges
    (pinned by test): two reps are connected in the rep graph iff
    connected through shared docs in the star graph, and a cluster's
    global-min doc is itself the rep of every bucket containing it,
    so the rep-graph minimum IS the doc-graph minimum.

    ``nodes``: optional singleton universe, as in connected_components.
    """
    e = star_edges.select(F.col(src).alias("_r"), F.col(dst).alias("_d"))
    e = e.localCheckpoint(eager=True)
    w = Window.partitionBy("_d")
    # the corpus-sized window output feeds THREE consumers (the probe
    # action below, the rep graph, and doc_labels) — pin it so the
    # window shuffle runs once, not once per action
    dm = e.select(
        "_d", "_r", F.min("_r").over(w).alias("_m")
    ).localCheckpoint(eager=False)
    reps = e.select(F.col("_r").alias("node")).distinct()
    # reps sharing a doc connect through the doc's min rep; AND a doc
    # that is itself a rep (of another bucket) carries its own rep-hood
    # into the graph — without the second edge set, a chain
    # repA -> doc -> doc's-own-bucket would split (caught by the
    # randomized parity test)
    shared = dm.filter(F.col("_r") != F.col("_m")).select(
        F.col("_m").alias("src"), F.col("_r").alias("dst")
    )
    self_rep = (
        dm.select("_d", "_m")
        .distinct()
        .join(reps.withColumnRenamed("node", "_d"), on="_d", how="left_semi")
        .select(
            F.least("_m", "_d").alias("src"),
            F.greatest("_m", "_d").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    rep_edges = shared.unionByName(self_rep).distinct()
    # Small rep graphs (the common dedup case: #edges ~ #chained
    # buckets) pay ~10s of pure stage-scheduling latency in the
    # iterative propagation — a flat cost that wrecks core-scaling of
    # the whole job. Below the threshold, union-find the collected
    # edges on the driver instead (the same small-graph escape hatch
    # as the driver-side ontology BFS); past it, iterate distributed.
    # Either way rep_labels only covers edge-touched reps — edgeless
    # reps are their own component (they are the min of their bucket)
    # and are backfilled by the coalesce below / the universe union.
    # ONE action probes size AND fetches the edges: below the
    # threshold the probe rows ARE the edge list, so the separate
    # collect() (a second full pass) disappears.
    probe_rows = rep_edges.limit(driver_threshold + 1).collect()
    small = len(probe_rows) <= driver_threshold
    if small:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for row in probe_rows:
            a, b = row[0], row[1]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        spark = rep_edges.sparkSession
        schema = (
            "node "
            + rep_edges.schema["src"].dataType.simpleString()
            + ", component "
            + rep_edges.schema["src"].dataType.simpleString()
        )
        rep_labels = spark.createDataFrame(
            [(n, find(n)) for n in parent], schema
        )
    else:
        rep_labels = connected_components(rep_edges, max_iters=max_iters)
    doc_labels = (
        dm.select(F.col("_d").alias("node"), F.col("_m").alias("_rep"))
        .distinct()
        .join(
            F.broadcast(rep_labels.withColumnRenamed("node", "_rep"))
            if small
            else rep_labels.withColumnRenamed("node", "_rep"),
            on="_rep",
            how="left",
        )
        .select(
            "node", F.coalesce("component", F.col("_rep")).alias("component")
        )
    )
    # Finalize in ONE corpus-sized aggregate: hash-min labels satisfy
    # component <= node, so unioning doc labels, rep labels, and the
    # full node universe self-labeled and taking min() per node both
    # dedupes the doc/rep overlap (their labels are equal — connected)
    # AND backfills singletons — no separate left_anti pass.
    parts = [rep_labels, doc_labels]
    if nodes is not None:
        node_col = nodes.columns[0]
        parts.append(
            nodes.select(
                F.col(node_col).alias("node"),
                F.col(node_col).alias("component"),
            )
        )
    else:
        # edgeless reps are in neither rep_labels nor doc_labels;
        # without a universe they must self-label explicitly
        parts.append(reps.select("node", F.col("node").alias("component")))
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.groupBy("node").agg(F.min("component").alias("component"))


def _or_raise(hint: str, run):
    """Run a frontier fixpoint whose truncated result would be wrong,
    not merely coarse (missing nodes read as unreachable): its
    non-convergence warning becomes a RuntimeError."""
    with warnings.catch_warnings():
        warnings.filterwarnings(
            "error", ".* without converging", RuntimeWarning
        )
        try:
            return run()
        except RuntimeWarning as w:
            raise RuntimeError(f"{w}: {hint}") from None


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 60,
) -> DataFrame:
    """Single-source-set BFS over a directed edge table: minimum hop
    count from ANY source node to every reachable node. Returns
    (node, dist) with sources at dist 0 — the distributed form of the
    reference's ontology depth / hop-distance walks (reference
    ``util.py`` computes HPO depths driver-side on the in-memory DAG;
    this is the same semantics for graphs that don't fit a driver).

    BFS is :func:`sssp_distances` with unit weights: with every weight
    1 a node's distance improves exactly once, in the round that first
    reaches it, so round i expands only the nodes at dist i. Rounds =
    graph depth from the sources (the unavoidable sequential dimension
    of BFS).

    Raises RuntimeError if the frontier is still non-empty after
    ``max_iters`` — a silently truncated BFS would report missing
    nodes as unreachable.
    """
    unit = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), F.lit(1.0).alias("w")
    )
    return sssp_distances(unit, sources, max_iters=max_iters).select(
        "node", F.col("dist").cast("bigint").alias("dist")
    )


def sssp_distances(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    max_iters: int = 60,
) -> DataFrame:
    """Weighted single-source-set shortest paths (non-negative edge
    weights): minimum total weight from ANY source to every reachable
    node. Returns (node, dist); sources at 0. The weighted sibling of
    :func:`bfs_distances` — frontier-driven Bellman-Ford relaxation,
    the distributed fixpoint for graphs too big for a driver-side heap
    (a Dijkstra PQ is inherently sequential; at cluster scale the
    per-round relax-join IS the standard formulation, cf. Pregel SSSP).

    Each round relaxes only edges leaving the CURRENT frontier (nodes
    whose distance improved last round, ``_r == i``): one left join of
    the distances onto the cached edge table, co-partitioned on the
    node key, + one keyed min — map-side combinable. A node re-enters
    the frontier only on strict improvement, so with non-negative
    weights the loop terminates in at most (longest shortest-path hop
    count) rounds. Raises RuntimeError if the frontier survives
    ``max_iters`` (silent truncation would mislabel reachable nodes).
    """
    e = edges.select(
        F.col(src).alias("_s"),
        F.col(dst).alias("_t"),
        F.col(weight).cast("double").alias("_w"),
    ).repartition("_s")

    def step(dist, i):
        offers = _offers(dist, e, (dist.node == e._s) & (dist._r == i), "_t")
        offers = offers.withColumn(
            "dist", F.when(F.col("_own"), F.col("dist")).otherwise(F.col("dist") + F.col("_w"))
        )
        return _relax(offers, "dist", F.min, i)

    start = (
        sources.select(F.col(sources.columns[0]).alias("node"))
        .distinct()
        .select("node", F.lit(0.0).alias("dist"), F.lit(0).alias("_r"))
    )
    dist = _or_raise(
        "the graph is deeper than the iteration budget",
        lambda: iterate(
            start, step, rounds=max_iters, until=_last_change, invariants=(e,)
        ),
    )
    return dist.select("node", "dist")


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_trim_iters: int = 20,
    max_iters: int = 30,
) -> DataFrame:
    """Directed SCCs: (node, component) with component = the smallest
    node id in the strongly connected component — the directed
    counterpart of :func:`connected_components`, used to collapse
    mutually-entailing concept clusters (synonym rings extracted as
    is-a cycles) before trusting any DAG semantics, where
    :func:`cyclic_nodes` only *flags* them.

    Two phases, mirroring Trim + decomposition from the distributed
    SCC literature (FW-BW-Trim, McLendon et al. 2005; Multistep,
    Slota et al. 2014):

    * **Trim**: iteratively drop nodes with zero in-degree or zero
      out-degree in the remaining subgraph — they can't lie on a
      cycle, so they are singleton SCCs. On the graphs this engine
      targets (extracted is-a edges, dependency graphs) the
      overwhelming bulk is acyclic and trims away in a few rounds;
      each round is one node-keyed window over the edges' endpoint
      rows + one edge-keyed aggregate. Trim is only a shortcut: if it has not settled
      within ``max_trim_iters`` it warns and the core phase takes the
      larger residue; the result stays exact.
    * **Core**: on the surviving cyclic core, SCC(u) = min over
      {u} union {v : u ->* v and v ->* u}, computed as the semi-naive
      :func:`transitive_closure` of the core intersected with its
      transpose (one self-join on the pair key), then a keyed min.
      The closure is quadratic in core reachability — acceptable
      exactly BECAUSE trim shrank the core to the cycle-touching
      residue; for a core that is itself web-scale, the next step up
      is the FW-BW pivot recursion, which composes from the same
      bfs_distances primitives.

    Nodes that survive trim but sit on no cycle (bridges BETWEEN
    cycles) fall out correctly: they have no mutual pair, so the
    reflexive union leaves them as singletons. Output is exact and
    deterministic for any input.
    """
    e = edges.select(
        F.col(src).cast("string").alias("a"),
        F.col(dst).cast("string").alias("b"),
    ).distinct()

    def trim(core, i):
        # a node keeps its edges iff it has both an out-edge (_o = 1)
        # and an in-edge (_o = 0); an edge survives iff both ends do
        ends = core.select(
            "a",
            "b",
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("_n"), F.lit(1).alias("_o")),
                    F.struct(F.col("b").alias("_n"), F.lit(0).alias("_o")),
                )
            ).alias("_x"),
        ).select("a", "b", "_x.*")
        w = Window.partitionBy("_n")
        return (
            ends.withColumn("_ok", F.max("_o").over(w) - F.min("_o").over(w))
            .groupBy("a", "b")
            .agg(F.min("_ok").alias("_ok"))
            .filter(F.col("_ok") == 1)
            .select("a", "b")
        )

    core = iterate(
        e,
        trim,
        rounds=max_trim_iters,
        until=lambda s: s.count(),
    )
    core_nodes = (
        core.select(F.col("a").alias("node"))
        .unionByName(core.select(F.col("b").alias("node")))
        .distinct()
    )
    clo = transitive_closure(
        core.select(F.col("a").alias("child"), F.col("b").alias("parent")),
        max_iters=max_iters,
    )
    mutual = clo.join(
        clo.select(F.col("anc").alias("node"), F.col("node").alias("anc")),
        ["node", "anc"],
    )
    partners = mutual.unionByName(
        core_nodes.select("node", F.col("node").alias("anc"))
    )
    scc_core = partners.groupBy("node").agg(F.min("anc").alias("component"))
    all_nodes = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .distinct()
    )
    trimmed = all_nodes.join(core_nodes, "node", "left_anti").select(
        "node", F.col("node").alias("component")
    )
    return scc_core.unionByName(trimmed)


def topo_layers(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 50,
) -> DataFrame:
    """Longest-path topological layering of a DAG: (node, layer) with
    layer(v) = 0 for nodes with no incoming edge and otherwise
    1 + max(layer(u)) over edges u -> v — i.e. the length of the
    longest path reaching v from any source. This is the layering a
    dependency scheduler consumes (every node's inputs live in
    strictly lower layers, so layers execute as sequential waves with
    full parallelism inside each wave) and the ontology analog of
    "depth when every parent must be counted" (the reference computes
    driver-side HPO depths on the in-memory DAG; this is the
    distributed form for graphs that don't fit a driver).

    Fixed-point DP rather than Kahn peeling: start every node at the
    lower bound (0 for sources; 1 for anything with an in-edge) and
    repeat layer(v) <- max(layer(v), 1 + max incoming layer(u)) until
    unchanged. Each round pushes only the nodes whose layer moved last
    round: one left join onto the edges + one node-keyed max — both
    combiner-friendly — and the round count equals the DAG depth,
    the same bound every frontier op in this module pays
    (:func:`bfs_distances`, :func:`transitive_closure`). Layers only
    ever increase and are bounded by depth on a DAG, so
    non-convergence within ``max_iters`` means a cycle (or a deeper
    graph): raise and point at :func:`strongly_connected_components` /
    :func:`cyclic_nodes`.
    """
    e = (
        edges.select(
            F.col(src).cast("string").alias("u"),
            F.col(dst).cast("string").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .repartition("u")
    )
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
    )
    has_in = e.select(F.col("v").alias("node")).distinct()

    def step(layer, i):
        # nodes whose layer moved last round push layer + 1 downstream
        offers = _offers(layer, e, (layer.node == e.u) & (layer._r == i), "v")
        offers = offers.withColumn(
            "layer", F.when(F.col("_own"), F.col("layer")).otherwise(F.col("layer") + 1)
        )
        return _relax(offers, "layer", F.max, i)

    start = nodes.join(has_in.withColumn("_h", F.lit(1)), "node", "left").select(
        "node",
        F.coalesce("_h", F.lit(0)).cast("bigint").alias("layer"),
        F.lit(0).alias("_r"),
    )
    layer = _or_raise(
        "the graph has a cycle or is deeper than the budget — run "
        "strongly_connected_components/cyclic_nodes to locate cycles",
        lambda: iterate(
            start, step, rounds=max_iters, until=_last_change, invariants=(e,)
        ),
    )
    return layer.select("node", "layer")
