"""Dump .explain("formatted") for the named contract queries (and the
kg_pagerank bench composition) to <outdir>/<name>_<tag>.txt.

Usage: python tools/dump_plans.py <outdir> <tag> [--actions] <query> [query ...]
  (query "kg_pagerank" records every action of bench.py's composition,
  ``pagerank(kg_edges, iters=3).count()``; queries "build_dense" and
  "kg_rank" record every action of that perfbench workload's call on
  seed 1, writes included — kg_rank's file starts with the formatted
  plan of its edge frame)

--actions instead records, in execution order, the physical operator
tree of every frame an action materializes while the query is built
and collected (localCheckpoint, count, isEmpty, collect): the
per-round plans of an iterative operator, which its final plan no
longer shows. A parquet write is recorded after it runs, as the final
adaptive plan Spark's SQL status store holds for it: the plan before
execution shows neither the writer's own sort nor AQE's coalescing.
The record ends with the number of Spark jobs the actions ran,
broadcasts included.

Run-specific tokens are masked so two dumps of unchanged code are
byte-identical, also when one dump starts in a fresh session and the
other after other queries ran: expression ids print as ``#n``, exchange
plan ids as ``[plan_id=n]``, the workload's temporary directory as
``<work>``, an ``Observation``'s random name as ``<observation>``, and
an RDD's id and call site as ``MapPartitionsRDD[<id>] at
localCheckpoint at <call site>``.
"""

import contextlib
import io
import re
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from phenobert_spark.config import get_spark  # noqa: E402


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _mask(text: str) -> str:
    for pattern, repl in [
        (r"[0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<observation>"),
        (r"#\d+", "#n"),
        (r"\[plan_id=\d+\]", "[plan_id=n]"),
        (re.escape(tempfile.gettempdir()) + r"/tmp\w+", "<work>"),
        (r"(\w+RDD)\[\d+\] at (\w+) at [^\s,]+:\d+", r"\1[<id>] at \2 at <call site>"),
    ]:
        text = re.sub(pattern, repl, text)
    return text


def _work_tree(df) -> str:
    """The physical operator tree an action is about to run. A cached
    frame is a leaf once materialized; one the action itself fills
    shows the plan that builds it."""
    lines = []

    def walk(node, depth):
        if node.nodeName() == "AdaptiveSparkPlan":
            node = node.executedPlan()
        # masked before the cut, so the cut falls in the same place
        lines.append("  " * depth + _mask(node.simpleString(4))[:160])
        if node.nodeName() == "InMemoryTableScan":
            rel = node.relation()
            if not rel.cacheBuilder().isCachedColumnBuffersLoaded():
                walk(rel.cachedPlan(), depth + 1)
            return
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i), depth + 1)

    walk(df._jdf.queryExecution().executedPlan(), 0)
    return "\n".join(lines) + "\n"


def executed_plan(spark, marker: str = "") -> str:
    """The formatted physical plan Spark's SQL status store holds for the
    session's latest ended execution whose plan contains ``marker``:
    AQE's final plan. The store records an ended execution's last state
    asynchronously, after its listener events are delivered, together
    with its aggregated metrics, so this waits for those (at most 30 s)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    deadline = time.monotonic() + 30
    while True:
        executions = store.executionsList()
        latest = next(
            e
            for e in map(executions.apply, reversed(range(executions.size())))
            if marker in e.physicalPlanDescription()
        )
        if latest.metricValues() is not None or time.monotonic() > deadline:
            return latest.physicalPlanDescription()
        time.sleep(0.05)


@contextlib.contextmanager
def _recording_actions(spark, out: list):
    """Append (action, plan) for every listed DataFrame action, its plan
    explained just before the action executes, and for every parquet
    write run inside the block, its executed plan."""
    DataFrame = type(spark.range(0))

    Writer = type(spark.range(0).write)
    saved = []
    for cls, meth in [
        (DataFrame, m) for m in ("localCheckpoint", "count", "isEmpty", "collect")
    ] + [(Writer, "parquet")]:
        orig = getattr(cls, meth)
        saved.append((cls, meth, orig))

        def wrapped(self, *a, _orig=orig, _meth=meth, **kw):
            if isinstance(self, Writer):
                result = _orig(self, *a, **kw)
                out.append((_meth, executed_plan(spark)))
                return result
            out.append((_meth, _work_tree(self)))
            return _orig(self, *a, **kw)

        setattr(cls, meth, wrapped)
    try:
        yield
    finally:
        for cls, meth, orig in saved:
            setattr(cls, meth, orig)


def _actions(spark, run) -> str:
    """Every action ``run()`` executes, numbered, with its plan, then
    the number of Spark jobs they ran (broadcasts included)."""
    steps = []
    sc = spark.sparkContext
    group = f"dump_plans-{time.monotonic_ns()}"
    sc.setJobGroup(group, group)
    try:
        with _recording_actions(spark, steps):
            run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return "".join(
        f"==== action {i}: {meth} ====\n{plan}\n"
        for i, (meth, plan) in enumerate(steps, 1)
    ) + f"==== jobs: {n_jobs} ====\n"


def _perfbench_actions(spark, name: str) -> str:
    """Every action one call of a perfbench workload runs, over the
    1,000 seed-1 notes (kg_rank ranks the graph a build of them
    commits)."""
    from perfbench import inputs, workloads
    from phenobert_spark.ontology import get_ontology

    onto = get_ontology()
    with tempfile.TemporaryDirectory() as work:
        rows, _ = inputs.dense_corpus(onto, workloads.N_DOCS, 1)
        workloads.write_docs(rows, f"{work}/docs", 4)
        if name == "build_dense":
            return _actions(
                spark,
                lambda: workloads.build(spark, onto, f"{work}/docs", f"{work}/out"),
            )
        workloads.build(spark, onto, f"{work}/docs", f"{work}/out")
        edges = workloads.kg_edges(spark, onto, f"{work}/out")
        return (
            "==== edge frame ====\n"
            + _explain(edges)
            + "\n"
            + _actions(spark, lambda: workloads.rank_pagerank(edges, f"{work}/rank"))
        )


def main():
    outdir, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    actions = "--actions" in names
    names = [n for n in names if n != "--actions"]
    sf_dir = "/root/testdata/sf0.1"
    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    from phenobert_spark.plans.contract_queries import QUERIES

    for name in names:
        if name == "kg_pagerank":
            from phenobert_spark.operators.kg_metrics import pagerank

            li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            edges = li.select(
                F.concat(F.lit("O"), F.col("l_orderkey")).alias("src"),
                F.concat(F.lit("S"), F.col("l_suppkey")).alias("dst"),
            ).distinct()
            text = _actions(spark, lambda: pagerank(edges, iters=3).count())
        elif name in ("build_dense", "kg_rank"):
            text = _perfbench_actions(spark, name)
        elif actions:
            text = _actions(spark, lambda: QUERIES[name](spark, sf_dir).collect())
        else:
            text = _explain(QUERIES[name](spark, sf_dir))
        path = f"{outdir}/{name}_{tag}.txt"
        with open(path, "w") as f:
            f.write(_mask(text))
        print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
