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
longer shows.

Run-specific tokens are masked so two dumps of unchanged code are
byte-identical: expression ids print as ``#n``, exchange plan ids as
``[plan_id=n]``, the workload's temporary directory as ``<work>`` and
an ``Observation``'s random name as ``CollectMetrics <observation>``.
"""

import contextlib
import io
import re
import sys
import tempfile

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
        (r"CollectMetrics [0-9a-f-]{36}", "CollectMetrics <observation>"),
        (r"#\d+", "#n"),
        (r"\[plan_id=\d+\]", "[plan_id=n]"),
        (re.escape(tempfile.gettempdir()) + r"/tmp\w+", "<work>"),
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
        lines.append("  " * depth + node.simpleString(4)[:160])
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


@contextlib.contextmanager
def _recording_actions(spark, out: list):
    """Append (action, plan) for every listed DataFrame action and every
    parquet write run inside the block, the plan explained just before
    the action executes."""
    DataFrame = type(spark.range(0))

    Writer = type(spark.range(0).write)
    saved = []
    for cls, meth in [
        (DataFrame, m) for m in ("localCheckpoint", "count", "isEmpty", "collect")
    ] + [(Writer, "parquet")]:
        orig = getattr(cls, meth)
        saved.append((cls, meth, orig))

        def wrapped(self, *a, _orig=orig, _meth=meth, **kw):
            df = self._df if isinstance(self, Writer) else self
            out.append((_meth, _work_tree(df)))
            return _orig(self, *a, **kw)

        setattr(cls, meth, wrapped)
    try:
        yield
    finally:
        for cls, meth, orig in saved:
            setattr(cls, meth, orig)


def _actions(spark, run) -> str:
    """Every action ``run()`` executes, numbered, with its plan."""
    steps = []
    with _recording_actions(spark, steps):
        run()
    return "".join(
        f"==== action {i}: {meth} ====\n{plan}\n"
        for i, (meth, plan) in enumerate(steps, 1)
    )


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
