"""Physical-plan regression tests: the plan properties the engine is
designed around must not silently rot (SURVEY.md §4)."""

import re

import pyspark.sql.functions as F

from phenobert_spark.config import PipelineConfig
from phenobert_spark.corpus import synthesize_corpus
from phenobert_spark.pipeline import annotate


def _formatted_plan(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_annotate_plan_shape(spark, onto):
    """The dictionary tiers are probed inside the candidate kernel: the
    one join is the alt-id broadcast join, and no dictionary relation
    enters the plan; at most two data shuffles (salt repartition + the
    shared doc_id window) and one sort serving both span windows."""
    docs, _ = synthesize_corpus(spark, onto, n_docs=5)
    plan = _formatted_plan(spark, annotate(spark, docs, onto, PipelineConfig()))
    assert "SortMergeJoin" not in plan
    joins = re.findall(r"^\(\d+\) BroadcastHashJoin$", plan, re.MULTILINE)
    assert len(joins) == 1, plan
    assert re.search(r"^Right keys \[1\]: \[alt#\d+\]$", plan, re.MULTILINE), plan
    assert "prio" not in plan, plan  # no tier join
    # data exchanges (detail headers "(N) Exchange"), excluding broadcasts
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange$", plan, re.MULTILINE))
    assert n_exchanges <= 2, plan
    assert len(re.findall(r"^\(\d+\) Sort$", plan, re.MULTILINE)) == 1, plan


def _final_plan_tree(desc: str) -> dict[int, tuple[str, int | None]]:
    """{node id: (operator name, parent id)} of the ``== Final Plan ==``
    tree in a formatted AQE plan description."""
    final = desc.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    tree, stack = {}, []  # stack: (name column, node id) of open ancestors
    for line in final.splitlines():
        m = re.match(r"^([ :+-]*)(?:\* )?([A-Za-z][^(]*?) \((\d+)\)", line)
        if not m:
            continue
        col, node = len(m.group(1)), int(m.group(3))
        while stack and stack[-1][0] >= col:
            stack.pop()
        tree[node] = (m.group(2), stack[-1][1] if stack else None)
        stack.append((col, node))
    return tree


def test_checkpointed_write_shares_the_window_exchange(spark, onto, tmp_path):
    """The materializer's triples write, as executed (AQE's final plan
    from the SQL status store): one hash exchange above the candidate
    stage, keyed on the bucket and never coalesced, and one sort in the
    result stage serving both span windows and the partitioned writer."""
    from phenobert_spark.materialize import run_with_checkpoint
    from tools.dump_plans import executed_plan

    docs, _ = synthesize_corpus(spark, onto, n_docs=12)
    run_with_checkpoint(spark, docs, onto, str(tmp_path / "g"), n_buckets=4)
    desc = executed_plan(spark, str(tmp_path / "g" / "triples"))
    tree = _final_plan_tree(desc)

    def path_up(node):
        while node is not None:
            yield node
            node = tree[node][1]

    candidates = min(
        (n for n, (name, _) in tree.items() if name == "MapInPandas"),
        key=lambda n: len(list(path_up(n))),
    )
    above = [tree[n][0] for n in path_up(candidates)]
    assert above.count("Exchange") == 1 and "AQEShuffleRead" not in above, desc
    exchange = next(n for n in path_up(candidates) if tree[n][0] == "Exchange")
    args = re.search(rf"^\({exchange}\) Exchange\n.*\nArguments: (.*)$", desc, re.M)
    assert args.group(1).startswith("hashpartitioning(bucket#"), desc

    def result_stage(node):
        yield node
        for child, (name, parent) in tree.items():
            if parent == node and not name.endswith("QueryStage"):
                yield from result_stage(child)

    root = next(n for n, (_, parent) in tree.items() if parent is None)
    assert [tree[n][0] for n in result_stage(root)].count("Sort") == 1, desc
    write = next(n for n, (name, _) in tree.items() if name == "WriteFiles")
    assert [name for name, parent in tree.values() if parent == write] != ["Sort"], desc


def test_parquet_filter_pushdown(spark):
    """q01's shipdate predicate must reach the parquet scan."""
    from phenobert_spark.plans.contract_queries import QUERIES

    df = QUERIES["q01_pricing_summary"](spark, "/root/testdata/sf0.001")
    plan = _formatted_plan(spark, df)
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:200]


def test_parquet_column_pruning(spark):
    """A two-column projection must not scan all lineitem columns."""
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    df = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s"))
    plan = _formatted_plan(spark, df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_returnflag" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema
    assert "l_orderkey" not in read_schema


def test_ivf_assignment_plan_is_narrow(spark):
    """The IVF coarse-quantizer must never shuffle the SCORED product:
    assignment is a broadcast-matmul argmax inside mapInPandas (the
    old crossJoin+Window form exchanged the full n x n_centroids
    scored product — a 4e12-row shuffle at 1e9 vectors x 4096
    centroids). Since round 6 the operator MAY hash-repartition its
    INPUT rows once before the UDF (operators/_scale.fanout — only
    when the scan is under-partitioned, e.g. the single-row-group
    fixtures), so the pin is: no window, no cartesian/nested-loop
    join, and at most one exchange, which must sit BELOW the Python
    stage (input fan-out, n rows) rather than above it (scored
    product)."""
    import re

    from phenobert_spark.operators.similarity import _centroid_buckets

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cent = e.filter(F.col("vec_id") < 8)
    for df in (
        _centroid_buckets(spark, e, cent, 1, "vec_id", "embedding"),
        _centroid_buckets(
            spark, e.filter(F.col("vec_id") < 5), cent, 2, "qid", "qe"
        ),
    ):
        plan = _formatted_plan(spark, df)
        assert "Window" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        n_ex = len(re.findall(r"^\(\d+\) Exchange$", plan, re.MULTILINE))
        assert n_ex <= 1, plan
        if n_ex == 1:
            # the exchange must feed the Python stage, not consume it:
            # formatted-plan operator ids grow leaf->root, so the
            # fan-out exchange's id must be smaller than the
            # MapInPandas id (exchange below = input rows, not the
            # scored product)
            ex_id = int(re.search(r"^\((\d+)\) Exchange$", plan, re.MULTILINE).group(1))
            py_id = int(re.search(r"^\((\d+)\) MapInPandas", plan, re.MULTILINE).group(1))
            assert ex_id < py_id, plan


def test_connected_components_iteration_plan(spark):
    """One CC iteration must be equi-join + keyed aggregate only:
    no cartesian/nested-loop join anywhere in the fixpoint plan."""
    from phenobert_spark.operators.closure import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "src bigint, dst bigint"
    )
    labels = connected_components(edges, max_iters=3)
    plan = _formatted_plan(spark, labels)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_pack_sequences_single_shuffle(spark):
    """Packing = one hash-bucket exchange + in-group pandas; nothing
    else may shuffle."""
    import re

    from phenobert_spark.operators.sampling import pack_sequences

    df = spark.range(100).select(
        F.col("id").alias("doc_id"), (F.col("id") % 37 + 1).alias("n_tokens")
    )
    plan = _formatted_plan(spark, pack_sequences(df, capacity=64, n_buckets=4))
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange$", plan, re.MULTILINE))
    assert n_exchanges == 1, plan


def test_contract_outputs_driver_canonicalizable(spark):
    """No contract query may expose an array/map/struct output column:
    the driver's correctness canonicalizer pandas-sorts raw columns and
    dies on unhashable cells (CORRECTNESS_r03 q101 aborted the whole
    run, taking q102-q105's evidence with it). Serialize nested values
    at the contract boundary (array_join) — library operators keep the
    typed columns."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    from phenobert_spark.plans.contract_queries import QUERIES

    bad = {}
    for name, fn in QUERIES.items():
        schema = fn(spark, "/root/testdata/sf0.001").schema
        nested = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if nested:
            bad[name] = nested
    assert not bad, f"nested output columns break the driver: {bad}"


def test_dup_ngram_stats_plan_no_cartesian(spark):
    """Substring-dup stats must be keyed shuffles only: no cartesian
    or nested-loop join anywhere (the all-pairs trap), and the
    (gram, doc) pre-aggregate must exist so the wire never carries one
    row per occurrence."""
    from phenobert_spark.operators.dedup import dup_ngram_stats

    df = spark.createDataFrame(
        [(i, "tok " * 20) for i in range(10)], "doc_id bigint, text string"
    )
    plan = _formatted_plan(spark, dup_ngram_stats(df, w=8))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_winnow_fingerprints_single_exchange(spark):
    """Winnowing is per-row array math + ONE keyed exchange (the
    distinct); anything more means the narrow pipeline broke."""
    import re

    from phenobert_spark.operators.dedup import winnow_fingerprints

    df = spark.createDataFrame(
        [(i, "tok " * 20) for i in range(10)], "doc_id bigint, text string"
    )
    plan = _formatted_plan(spark, winnow_fingerprints(df))
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange$", plan, re.MULTILINE))
    assert n_exchanges <= 1, plan


def test_triangle_count_plan_no_cartesian(spark):
    """Wedge build + closure probe must stay equi-joins: a cartesian
    or nested-loop join here is exactly the hub blow-up the
    degree-ordered orientation exists to prevent."""
    from phenobert_spark.operators.kg_metrics import triangle_count

    edges = spark.createDataFrame(
        [(i, (i * 7) % 23) for i in range(40)], "src bigint, dst bigint"
    )
    plan = _formatted_plan(spark, triangle_count(edges))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_incremental_dedup_plan_no_cartesian(spark):
    """All three probes (exact-vs-seen, batch-first, band-vs-seen) are
    equi-joins on hash keys; a nested-loop/cartesian anywhere would
    re-pair the snapshot — the exact cost the operator exists to
    avoid."""
    import pyspark.sql.functions as F

    from phenobert_spark.operators.dedup import incremental_dedup_status

    d = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    plan = _formatted_plan(
        spark,
        incremental_dedup_status(
            d.filter(h >= "80000000"), d.filter(h < "80000000")
        ),
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_topk_uses_take_ordered(spark):
    """Global top-k in the retrieval contract queries must be
    TakeOrderedAndProject (per-partition heaps + k-row driver merge),
    never a SinglePartition row_number window over the full scored
    corpus — the window form funnels every row through one reducer."""
    from phenobert_spark.plans.contract_queries import QUERIES

    plan = _formatted_plan(
        spark, QUERIES["q130_bm25_topk"](spark, "/root/testdata/sf0.001")
    )
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_link_prediction_plan_no_cartesian(spark):
    """Candidate pairs come ONLY from the wedge equi-join at a shared
    neighbor; a cartesian/nested-loop anywhere would be the all-pairs
    product the operator exists to avoid. The existing-edge exclusion
    must also stay an equi-anti-join."""
    from phenobert_spark.operators.kg_metrics import link_prediction

    edges = spark.createDataFrame(
        [(i, (i * 7) % 23) for i in range(40)], "src bigint, dst bigint"
    )
    plan = _formatted_plan(spark, link_prediction(edges))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cooccurrence_plan_group_keyed(spark):
    """Pair generation must be the group-keyed self-join (fan-out
    bounded by basket size); marginals broadcast back. No cartesian;
    the only nested-loop join allowed is the 1-row scalar N attach
    (IdentityBroadcastMode cross, same pattern as pagerank's
    n_total)."""
    from phenobert_spark.operators.kg_metrics import cooccurrence_stats

    df = spark.createDataFrame(
        [(i % 9, f"it{i % 13}") for i in range(60)], "g int, item string"
    )
    plan = _formatted_plan(spark, cooccurrence_stats(df, "g", "item"))
    assert "CartesianProduct" not in plan
    # one nested-loop node = two mentions in "formatted" (tree + detail)
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert "IdentityBroadcastMode" in plan  # the 1-row scalar, nothing else


def test_coalesce_runs_single_exchange(spark):
    """Dedup, island window, and run aggregate all share the group-key
    partitioning: exactly ONE exchange keyed by the group columns (plus
    AQE reads), never one per step."""
    from phenobert_spark.operators.spans import coalesce_runs

    df = spark.createDataFrame(
        [(i % 5, "r", i % 17) for i in range(80)],
        "k int, rel string, seq int",
    )
    plan = _formatted_plan(spark, coalesce_runs(df, ["k", "rel"], "seq"))
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 2, plan  # dedup agg + window may share or split
    assert "CartesianProduct" not in plan


def test_blocked_matches_plan_block_keyed(spark):
    """ER candidate pairs must come ONLY from the blocking-key
    equi-join — a cartesian/nested-loop anywhere is the all-pairs
    product blocking exists to avoid."""
    import pyspark.sql.functions as F

    from phenobert_spark.operators.entity_resolution import blocked_matches

    df = spark.createDataFrame(
        [(i, f"name {i % 7}", f"B{i % 3}") for i in range(50)],
        "id bigint, name string, brand string",
    )
    plan = _formatted_plan(
        spark,
        blocked_matches(
            df,
            id_col="id",
            name_col="name",
            block_cols=[F.col("brand"), F.substring_index(F.col("name"), " ", 1)],
            max_edit=2,
        ),
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_negative_sample_plan_broadcast_index(spark):
    """The corpus-sized triple table is touched only by equi-joins
    against the vocabulary-sized entity index; the single allowed
    nested-loop node is the 1-row scalar N attach (same pattern as
    cooccurrence/pagerank)."""
    from phenobert_spark.operators.entity_resolution import (
        negative_sample_triples,
    )

    df = spark.createDataFrame(
        [(i, "r", (i * 3) % 11) for i in range(60)],
        "head bigint, rel string, tail bigint",
    )
    plan = _formatted_plan(spark, negative_sample_triples(df, salt="s"))
    assert "CartesianProduct" not in plan
    # one nested-loop node = two mentions in "formatted" (tree + detail)
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert "IdentityBroadcastMode" in plan  # the 1-row scalar, nothing else


def test_hyperball_plan_equijoin_only(spark):
    """HyperBall's register propagation must be the node-keyed
    equi-join + keyed max — a cartesian/nested-loop would be the
    all-pairs reachability it exists to avoid. The per-round
    localCheckpoint means only the LAST round's plan is inspectable;
    it carries the full join+agg shape."""
    from phenobert_spark.operators.kg_metrics import hyperball

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7 + 1) % 40}") for i in range(80)],
        "src string, dst string",
    )
    plan = _formatted_plan(spark, hyperball(edges, radius=2, p=7))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dsir_plan_broadcast_ratio_table(spark):
    """DSIR scoring joins per-doc bucket counts onto the <= B-row
    log-ratio table as a BROADCAST equi-join; the corpus-sized gram
    stream must never sort-merge against it, and the only nested-loop
    nodes are the two 1-row total attaches."""
    from phenobert_spark.operators.text import dsir_importance

    docs = spark.createDataFrame(
        [(str(i), f"tok{i % 13} tok{(i + 1) % 13} tok{(i + 2) % 7}")
         for i in range(60)],
        "doc_id string, text string",
    )
    plan = _formatted_plan(
        spark, dsir_importance(docs, docs.limit(20), buckets=256)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # the two scalar totals ride broadcast nested loops (1-row each)
    assert "IdentityBroadcastMode" in plan


def test_new_r5_queries_plan_no_scale_killers(spark):
    """q198 as-of attribution, q204 salted join, q205 skip-gram join:
    none may plan a cartesian/broadcast-nested-loop; q198 must keep
    the union+window as-of shape (zero join nodes at all)."""
    from phenobert_spark.plans.contract_queries import QUERIES

    sf = "/root/testdata/sf0.001"
    plan_198 = _formatted_plan(
        spark, QUERIES["q198_last_touch_attribution"](spark, sf)
    )
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin",
                "SortMergeJoin"):
        assert bad not in plan_198, plan_198
    for name in ("q204_salted_join", "q205_skipgram_pairs"):
        plan = _formatted_plan(spark, QUERIES[name](spark, sf))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_zone_map_scan_counts_broadcasts_zones(spark):
    """q201's planner arithmetic must broadcast the metadata-sized
    zones table, never shuffle it."""
    from phenobert_spark.plans.contract_queries import QUERIES

    plan = _formatted_plan(
        spark, QUERIES["q201_zone_map_pruning"](spark, "/root/testdata/sf0.001")
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_path_stats_prunes_content_column(spark):
    """path_stats over the documents table must read only
    (repo, path) — content stays out of the scan's ReadSchema."""
    from phenobert_spark.operators.code_analysis import path_stats

    docs = spark.createDataFrame(
        [("r", "a/b.py", "X" * 10)], "repo string, path string, content string"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        docs.write.parquet(f"{td}/docs")
        out = path_stats(spark.read.parquet(f"{td}/docs"))
        plan = _formatted_plan(spark, out)
        assert "content" not in plan.split("ReadSchema")[1][:200]


def _driver_frames(spark, onto):
    """(name, frame, expected rows) for every engine-side driver table,
    built with rows and, where the table can be empty, with none."""
    from dataclasses import replace

    from phenobert_spark.canonicalize import (
        _abnormal_df,
        _alt_df,
        _ancestor_pairs_df,
    )
    from phenobert_spark.config import local_frame
    from phenobert_spark.materialize import MANIFEST_SCHEMA
    from phenobert_spark.ontology import _ingest_pairs

    empty = _ingest_pairs([], {}, {})
    n_edges = sum(len(ps) for ps in onto.parents.values())
    n_anc = sum(len(a - {n}) for n, a in onto.ancestors().items())
    return [
        ("edges_df", onto.edges_df(spark), n_edges),
        ("edges_df/empty", empty.edges_df(spark), 0),
        ("terms_df", onto.terms_df(spark), len(onto.names)),
        ("terms_df/empty", empty.terms_df(spark), 0),
        ("_alt_df", _alt_df(spark, onto), len(onto.alt_ids)),
        ("_alt_df/no_alt_ids", _alt_df(spark, replace(onto, alt_ids={})), 0),
        ("manifest", local_frame(spark, [(0, 3, 7, 42, 0.5)], MANIFEST_SCHEMA), 1),
        ("manifest/empty", local_frame(spark, [], MANIFEST_SCHEMA), 0),
        ("_abnormal_df", _abnormal_df(spark, onto), len(onto.abnormal_set)),
        ("_abnormal_df/empty", _abnormal_df(spark, empty), 0),
        ("_ancestor_pairs_df", _ancestor_pairs_df(spark, onto), n_anc),
        ("_ancestor_pairs_df/empty", _ancestor_pairs_df(spark, empty), 0),
        ("dict_df", onto.dict_df(spark), None),
    ]


def test_driver_tables_are_local_relations(spark, onto):
    """Every table the driver builds for the engine reaches the JVM as
    a LocalRelation (Arrow), never as a pickled Python LogicalRDD —
    with rows and with zero rows, where the Arrow route would
    otherwise fall back silently."""
    for name, df, n in _driver_frames(spark, onto):
        node = df._jdf.queryExecution().analyzed().getClass().getSimpleName()
        assert node == "LocalRelation", (name, node)
        if n is not None:
            assert df.count() == n, name


def test_annotate_and_kg_edges_read_no_python_rdd(spark, onto, tmp_path):
    """annotate over a parquet input, and the KG edge frame as
    jobs/kg_metrics.py composes it, scan only files and local rows:
    no ``Scan ExistingRDD`` leaf (a pickled driver table that forks
    Python workers)."""
    docs, _ = synthesize_corpus(spark, onto, n_docs=5)
    docs.write.parquet(str(tmp_path / "docs"))
    triples = annotate(
        spark, spark.read.parquet(str(tmp_path / "docs")), onto, PipelineConfig()
    )
    assert "ExistingRDD" not in _formatted_plan(spark, triples)

    triples.write.parquet(str(tmp_path / "triples"))
    ann = spark.read.parquet(str(tmp_path / "triples")).select(
        "doc_id", F.col("hpo_id").alias("concept")
    )
    onto_edges = onto.edges_df(spark).select(
        F.col("child").alias("src"), F.col("parent").alias("dst")
    )
    edges = ann.select(
        F.col("doc_id").alias("src"), F.col("concept").alias("dst")
    ).unionByName(onto_edges)
    plan = _formatted_plan(spark, edges)
    assert "ExistingRDD" not in plan and "LocalTableScan" in plan, plan


def test_star_components_reads_no_python_rdd(spark):
    """star_components' driver union-find labels (the branch every rep
    graph under 2M edges takes) reach the plan as local rows: its only
    ``Scan ExistingRDD`` leaves are the JVM-side localCheckpoints, none
    a pickled ``applySchemaToPythonRDD`` table."""
    from phenobert_spark.config import local_frame
    from phenobert_spark.operators.closure import star_components

    # doc 2 shares reps 1 and 3, so the rep graph has an edge to label
    edges = local_frame(
        spark, [(1, 2), (3, 2), (3, 4), (5, 6)], "src bigint, dst bigint"
    )
    labels = star_components(edges)
    plan = _formatted_plan(spark, labels)
    leaves = [l for l in plan.splitlines() if ", ExistingRDD," in l]
    assert all(" at localCheckpoint " in l for l in leaves), plan
    assert "LocalTableScan" in plan, plan
    assert sorted(map(tuple, labels.collect())) == [
        (1, 1), (2, 1), (3, 1), (4, 1), (5, 5), (6, 5)
    ]


def _analyzed_leaf(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


def test_annotate_text_documents_frame_is_local_relation(spark, onto, monkeypatch):
    """annotate_text's one-row documents frame reaches the JVM as
    Arrow local rows, not a pickled Python RDD."""
    from phenobert_spark import api

    seen = []

    def capture(spark_, docs, onto_, cfg):
        seen.append(docs)
        return annotate(spark_, docs, onto_, cfg)

    monkeypatch.setattr(api, "annotate", capture)
    api.annotate_text(spark, "Patient presents with severe headache.", onto)
    assert [_analyzed_leaf(d) for d in seen] == ["LocalRelation"]


def test_reference_loaders_are_local_relations(spark, tmp_path):
    """load_reference_corpus / load_reference_gold build their frames
    as Arrow local rows (checked over a fake reference root)."""
    from phenobert_spark.corpus import load_reference_corpus, load_reference_gold

    data = tmp_path / "phenobert" / "data" / "ID-68"
    (data / "corpus").mkdir(parents=True)
    (data / "ann").mkdir()
    (data / "corpus" / "1.txt").write_text("Short stature.\n", encoding="utf-8")
    (data / "ann" / "1.txt").write_text(
        "0\t13\tShort stature\tHP:0004322\n", encoding="utf-8"
    )
    docs = load_reference_corpus(spark, "ID-68", root=str(tmp_path))
    gold = load_reference_gold(spark, "ID-68", root=str(tmp_path))
    assert _analyzed_leaf(docs) == _analyzed_leaf(gold) == "LocalRelation"
    assert [tuple(r) for r in docs.collect()] == [
        ("ID-68", "1.txt", "0" * 40, "en", "Short stature.\n")
    ]
    assert [tuple(r) for r in gold.collect()] == [
        ("1.txt", 0, 13, "Short stature", "HP:0004322")
    ]
