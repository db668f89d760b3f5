"""Declarative query operators over the materialized triple table:
basic-graph-pattern matching, snapshot diffs, neighborhood similarity,
and deterministic random-walk generation.

The reference serves its graph through an in-process search REPL over a
pickled ontology tree (``/root/reference/phenobert/utils/api.py``); a
KG materialized as a distributed (subj, pred, obj) table needs the
same capabilities as relational plans. Everything here is a pure
DataFrame composition — Catalyst picks join order, broadcasts the
small sides, and prunes columns; there is no driver-side graph object.

Scale shape (100 TB):

* ``bgp_match`` compiles a SPARQL-style pattern list into one filtered
  scan per pattern plus equi-joins on the shared variables. Constants
  become pushed-down predicates on the scan (predicate order in the
  pattern list does not matter — the optimizer reorders). Selective
  patterns therefore shrink BEFORE any shuffle; with a
  pred-partitioned/bucketed triple table each pattern scan prunes to
  one partition.
* ``kg_snapshot_diff`` is a single full-outer equi-join on the triple
  key — day-over-day KG maintenance is one shuffle of the two
  snapshots, and with both snapshots bucketed by (subj, pred, obj) it
  is shuffle-free.
* ``neighborhood_jaccard`` never enumerates the O(n^2) entity pairs:
  pairs materialize only through a shared neighbor (inverted-index
  self-join), so the fan-out is sum(deg^2) over NEIGHBOR nodes.
  ``max_neighbor_degree`` drops hub neighbors up front — the same
  hot-block guard as ``entity_resolution.blocked_matches`` (a neighbor
  shared by a million entities contributes quadratic pairs and almost
  no Jaccard signal).
* ``ego_sample`` bounds the per-hop fan-out at ``fanouts[h]`` edges
  per frontier node, so the sampled subgraph grows as
  O(seeds × prod(fanouts)) regardless of graph size — the GNN
  training-data exporter.
* ``kg_time_travel`` replays an add/remove changelog to any snapshot
  with one filtered scan + one max_by groupBy on the triple key.
* ``random_walks`` keeps one row per walk (not per visited edge) and
  advances all walks one hop per join against the edge table — k hops
  = k equi-joins, each a narrow shuffle on the frontier node. The next
  hop is the md5-argmin over out-neighbors, a pure function of
  (walk_id, step, neighbor): any shard or re-run derives bit-identical
  walks, the determinism discipline of ``operators/sampling.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_TRIPLE_COLS = ("subj", "pred", "obj")


def _pattern_scan(triples: DataFrame, pat: tuple[str, str, str], i: int) -> DataFrame:
    """One BGP pattern → a constant-filtered scan projecting its variables."""
    if len(pat) != 3:
        raise ValueError(f"pattern {pat!r} is not a (subj, pred, obj) triple")
    scan = triples
    cols = []
    seen_vars: dict[str, str] = {}
    for term, col in zip(pat, _TRIPLE_COLS):
        if term.startswith("?"):
            var = term[1:]
            if not var:
                raise ValueError(f"empty variable name in pattern {pat!r}")
            if var in seen_vars:
                # repeated variable inside one pattern: equality filter
                scan = scan.filter(F.col(col) == F.col(seen_vars[var]))
            else:
                seen_vars[var] = col
                cols.append(F.col(col).alias(var))
        else:
            scan = scan.filter(F.col(col) == F.lit(term))
    return scan.select(*cols) if cols else scan.select(F.lit(1).alias(f"_m{i}"))


def bgp_match(
    triples: DataFrame,
    patterns: list[tuple[str, str, str]],
    optional: list[tuple[str, str, str]] | None = None,
    filters: list[str] | None = None,
) -> DataFrame:
    """Match a conjunctive basic graph pattern against a triple table.

    ``patterns`` is a list of (subj, pred, obj) terms; a term starting
    with ``"?"`` is a variable, anything else is a constant. Returns
    one row per satisfying assignment with one column per variable
    (leading ``?`` stripped). Join variables are the columns shared
    between pattern scans; Catalyst reorders the join tree and pushes
    the constant filters into each scan.

    ``optional`` patterns are SPARQL OPTIONAL analogs: each left-joins
    onto the required block's bindings, leaving its new variables null
    where unmatched (an optional pattern must share at least one
    variable with the bindings built so far — a disconnected optional
    would be a cross join). ``filters`` are SPARQL FILTER analogs:
    SQL boolean expressions over the variable columns, applied after
    all joins (Catalyst pushes them down where legal).
    """
    if not patterns:
        raise ValueError("bgp_match needs at least one pattern")
    out: DataFrame | None = None
    for i, pat in enumerate(patterns):
        proj = _pattern_scan(triples, pat, i)
        if out is None:
            out = proj
        else:
            shared = sorted(set(out.columns) & set(proj.columns))
            out = (
                out.join(proj, on=shared, how="inner")
                if shared
                else out.crossJoin(proj.distinct())
            )
    assert out is not None
    drop = [c for c in out.columns if c.startswith("_m")]
    out = out.drop(*drop).distinct()
    for i, pat in enumerate(optional or []):
        proj = _pattern_scan(triples, pat, i).distinct()
        shared = sorted(set(out.columns) & set(proj.columns))
        if not shared:
            raise ValueError(
                f"optional pattern {pat!r} shares no variable with the "
                "required block — it would cross-join"
            )
        out = out.join(proj, on=shared, how="left")
    for expr in filters or []:
        out = out.filter(F.expr(expr))
    return out


def kg_snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    conf_col: str | None = None,
) -> DataFrame:
    """Delta between two KG snapshots on the (subj, pred, obj) key.

    Emits ``change`` in {'added', 'removed', 'changed'}; triples present
    in both snapshots with equal ``conf_col`` (or always, when no
    ``conf_col``) are dropped. ``changed`` rows carry both ``old_conf``
    and ``new_conf``. One full-outer equi-join — bucket both snapshots
    by the triple key and the shuffle disappears.
    """
    key = list(_TRIPLE_COLS)
    o = old.select(
        *key,
        *( [F.col(conf_col).alias("old_conf")] if conf_col else [] ),
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        *key,
        *( [F.col(conf_col).alias("new_conf")] if conf_col else [] ),
        F.lit(True).alias("_in_new"),
    )
    j = o.join(n, on=key, how="full_outer")
    in_old = F.coalesce(F.col("_in_old"), F.lit(False))
    in_new = F.coalesce(F.col("_in_new"), F.lit(False))
    if conf_col:
        # null-safe inequality: a conf that went NULL -> value (or back)
        # IS a change; plain != would yield NULL and silently drop it
        change = (
            F.when(~in_old, F.lit("added"))
            .when(~in_new, F.lit("removed"))
            .when(
                ~F.col("old_conf").eqNullSafe(F.col("new_conf")),
                F.lit("changed"),
            )
        )
    else:
        change = F.when(~in_old, F.lit("added")).when(~in_new, F.lit("removed"))
    out = j.withColumn("change", change).filter(F.col("change").isNotNull())
    keep = key + (["old_conf", "new_conf"] if conf_col else []) + ["change"]
    return out.select(*keep)


def neighborhood_jaccard(
    edges: DataFrame,
    max_neighbor_degree: int | None = None,
) -> DataFrame:
    """Jaccard similarity of entity neighbor sets, via shared neighbors.

    Input is an adjacency list (``node``, ``neighbor``); output is one
    row per unordered pair (``node_a < node_b``) sharing at least one
    neighbor, with ``n_shared``, ``deg_a``, ``deg_b`` and ``jaccard``
    rounded to 6 places. Pairs with disjoint neighborhoods never
    materialize. ``max_neighbor_degree`` drops neighbors shared by more
    than that many nodes before pairing (hub guard).
    """
    adj = edges.select(
        F.col("node").alias("n"), F.col("neighbor").alias("nb")
    ).distinct()
    if max_neighbor_degree is not None:
        nb_deg = adj.groupBy("nb").agg(F.count("*").alias("_nbdeg"))
        adj = (
            adj.join(nb_deg, on="nb")
            .filter(F.col("_nbdeg") <= max_neighbor_degree)
            .drop("_nbdeg")
        )
    deg = adj.groupBy("n").agg(F.count("*").alias("deg"))
    a = adj.select(F.col("n").alias("node_a"), "nb")
    b = adj.select(F.col("n").alias("node_b"), "nb")
    shared = (
        a.join(b, on="nb")
        .filter(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        shared.join(deg.select(F.col("n").alias("node_a"), F.col("deg").alias("deg_a")), on="node_a")
        .join(deg.select(F.col("n").alias("node_b"), F.col("deg").alias("deg_b")), on="node_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_shared")
                / (F.col("deg_a") + F.col("deg_b") - F.col("n_shared")),
                6,
            ),
        )
        .select("node_a", "node_b", "n_shared", "deg_a", "deg_b", "jaccard")
    )


def ego_sample(
    edges: DataFrame,
    seeds: DataFrame,
    fanouts: list[int],
) -> DataFrame:
    """Deterministic GraphSAGE-style fanout-capped neighborhood sample.

    From each seed, expand ``len(fanouts)`` hops; at hop h every
    frontier node keeps at most ``fanouts[h-1]`` of its out-edges —
    the ones minimizing ``md5(seed|h|src|dst)``, a pure function of
    the (seed, hop, edge), so shards and re-runs emit bit-identical
    subgraphs (the md5-draw discipline of ``random_walks``). Returns
    the sampled subgraph edge list (seed, hop, src, dst).

    Scale shape: each hop is one equi-join frontier×edges plus a
    row_number window keyed by (seed, src) — the window partition is
    one frontier node's out-edge list for one seed, so the only skew
    is graph-intrinsic hub out-degree; cap it upstream with the same
    hub guard as ``neighborhood_jaccard`` if the graph has 10^6+
    out-degree hubs. This is the GNN training-data exporter: the union
    of per-seed subgraphs feeds mini-batch neighborhood aggregation.
    """
    from pyspark.sql import Window

    if not fanouts or any(f < 1 for f in fanouts):
        raise ValueError("fanouts must be a non-empty list of ints >= 1")
    e = edges.select(F.col("src").alias("_s"), F.col("dst").alias("_d")).distinct()
    frontier = seeds.select(F.col(seeds.columns[0]).alias("seed")).distinct()
    frontier = frontier.withColumn("node", F.col("seed"))
    parts: list[DataFrame] = []
    for h, fan in enumerate(fanouts, start=1):
        cand = frontier.join(e, frontier.node == e._s)
        draw = F.md5(
            F.concat_ws(
                "|", F.col("seed"), F.lit(str(h)), F.col("_s"), F.col("_d")
            )
        )
        w = Window.partitionBy("seed", "node").orderBy(draw)
        picked = (
            cand.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= fan)
            .select(
                "seed",
                F.lit(h).alias("hop"),
                F.col("node").alias("src"),
                F.col("_d").alias("dst"),
            )
        )
        parts.append(picked)
        frontier = picked.select("seed", F.col("dst").alias("node")).distinct()
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def kg_time_travel(
    changelog: DataFrame,
    at_ts=None,
) -> DataFrame:
    """Reconstruct the KG snapshot at ``at_ts`` from an add/remove log.

    ``changelog`` rows are (subj, pred, obj, ts, op) with op in
    {'add', 'remove'}; a triple is live at T iff its latest event with
    ts <= T is an 'add'. ``at_ts=None`` folds the WHOLE log (the
    current snapshot — what ``streaming.kg_upsert_stream`` applies per
    micro-batch). Same-timestamp add+remove resolves to remove
    (the conservative order). One filtered scan + one max_by groupBy
    on the triple key — map-side partial, no window sort; with the log
    bucketed by (subj, pred, obj) the shuffle disappears. This is the
    replay twin of ``kg_snapshot_diff``: diff derives the log from two
    snapshots, time-travel derives any snapshot from the log.
    """
    log = changelog if at_ts is None else changelog.filter(F.col("ts") <= at_ts)
    return kg_fold_log(log).filter(
        F.col("last_op") == "add"
    ).select("subj", "pred", "obj", "as_of_ts")


def kg_fold_log(
    changelog: DataFrame,
) -> DataFrame:
    """Fold an add/remove log to per-triple last-event state,
    KEEPING remove tombstones: (subj, pred, obj, as_of_ts, last_op).

    This is the state ``streaming.kg_upsert_stream`` persists between
    micro-batches — dropping tombstones (keeping only live triples)
    would let a LATE add resurrect a triple removed at a later
    timestamp. ``kg_time_travel`` is this fold + a liveness filter.
    """
    # rank 'remove' above 'add' so the max_by tiebreak at equal ts is
    # deterministic and conservative
    op_rank = F.when(F.col("op") == "remove", F.lit(1)).otherwise(F.lit(0))
    return changelog.groupBy("subj", "pred", "obj").agg(
        F.max_by(
            F.col("op"), F.struct(F.col("ts"), op_rank.alias("_r"))
        ).alias("last_op"),
        F.max(F.col("ts")).alias("as_of_ts"),
    )


def random_walks(
    edges: DataFrame,
    walk_len: int,
) -> DataFrame:
    """Deterministic DeepWalk-style walks over a directed edge table.

    Starts one walk at every distinct source node; at
    step t the walk at node v moves to
    ``argmin over out-neighbors u of md5(walk_id|t|u)`` — a pure
    function of the walk and candidate, so re-runs and shards agree
    bit-for-bit (ties on the full 32-hex digest are impossible for
    distinct u). Walks stop early at sink nodes. Returns
    (walk_id, start, path array<string>, steps).
    """
    if walk_len < 1:
        raise ValueError("walk_len must be >= 1")
    e = edges.select(F.col("src").alias("_s"), F.col("dst").alias("_d")).distinct()
    starts = e.select(F.col("_s").alias("start")).distinct().withColumn(
        "_rep", F.lit(0)
    )
    state = starts.select(
        F.concat_ws("#", "start", F.col("_rep").cast("string")).alias("walk_id"),
        F.col("start"),
        F.col("start").alias("cur"),
        F.array(F.col("start")).alias("path"),
    )
    for step in range(1, walk_len + 1):
        # min_by aggregate, not a window: partial (map-side) min per
        # walk, no per-partition sort — each hop is one narrow shuffle
        # on walk_id. start/path are per-walk constants, so first() is
        # exact.
        cand = state.join(e, state.cur == e._s, "left")
        draw = F.md5(F.concat_ws("|", F.col("walk_id"), F.lit(str(step)), F.col("_d")))
        nxt = cand.groupBy("walk_id").agg(
            F.first("start").alias("start"),
            F.first("cur").alias("cur0"),
            F.first("path").alias("path"),
            F.min_by("_d", draw).alias("_d"),
        )
        state = nxt.select(
            "walk_id",
            "start",
            F.coalesce(F.col("_d"), F.col("cur0")).alias("cur"),
            F.when(
                F.col("_d").isNotNull(), F.concat(F.col("path"), F.array(F.col("_d")))
            )
            .otherwise(F.col("path"))
            .alias("path"),
        )
    return state.select(
        "walk_id",
        "start",
        "path",
        (F.size("path") - F.lit(1)).alias("steps"),
    )


def skipgram_pairs(
    walks: DataFrame,
    window: int = 2,
) -> DataFrame:
    """(center, context, n) skip-gram training pairs from a walk
    corpus — the DeepWalk/node2vec step between :func:`random_walks`
    and an embedding trainer: every ordered pair of walk positions
    within ``window`` hops becomes one co-occurrence observation,
    counted corpus-wide.

    Plan: posexplode each path (row growth × walk length, a bounded
    constant), self-join on the walk id with the |Δpos| ≤ window
    band filter — per-walk fan-out ≤ 2·window·len, never quadratic
    in the corpus — then one map-side-combinable count keyed on the
    (center, context) pair. Walk IDs are unique keys, so the
    equi-join is skew-free by construction.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    pos = walks.select(
        F.col("walk_id").alias("_w"),
        F.posexplode(F.col("path")).alias("_p", "_n"),
    )
    a, b = pos.alias("a"), pos.alias("b")
    pairs = a.join(
        b,
        (F.col("a._w") == F.col("b._w"))
        & (F.col("b._p") != F.col("a._p"))
        & (F.col("b._p") >= F.col("a._p") - window)
        & (F.col("b._p") <= F.col("a._p") + window),
    ).select(
        F.col("a._n").alias("center"), F.col("b._n").alias("context")
    )
    return pairs.groupBy("center", "context").agg(
        F.count("*").alias("n")
    )
