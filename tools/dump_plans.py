"""Dump .explain("formatted") for the named contract queries (and the
kg_pagerank bench composition) to <outdir>/<name>_<tag>.txt.

Usage: python tools/dump_plans.py <outdir> <tag> [--actions] <query> [query ...]
  (query "kg_pagerank" dumps the bench's pagerank composition; queries
  "build_dense" and "kg_rank" record every action of that perfbench
  workload's call on seed 1, writes included — kg_rank's file starts
  with the formatted plan of its edge frame)

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


def _perfbench_actions(spark, name: str) -> str:
    """Every action one call of a perfbench workload runs, over the
    1,000 seed-1 notes (kg_rank ranks the graph a build of them
    commits)."""
    from perfbench import inputs, workloads
    from phenobert_spark.ontology import get_ontology

    onto = get_ontology()
    steps, text = [], ""
    with tempfile.TemporaryDirectory() as work:
        rows, _ = inputs.dense_corpus(onto, workloads.N_DOCS, 1)
        workloads.write_docs(rows, f"{work}/docs", 4)
        if name == "build_dense":
            with _recording_actions(spark, steps):
                workloads.build(spark, onto, f"{work}/docs", f"{work}/out")
        else:
            workloads.build(spark, onto, f"{work}/docs", f"{work}/out")
            edges = workloads.kg_edges(spark, onto, f"{work}/out")
            text = "==== edge frame ====\n" + _explain(edges) + "\n"
            with _recording_actions(spark, steps):
                workloads.rank_pagerank(edges, f"{work}/rank")
    return text + "".join(
        f"==== action {i}: {meth} ====\n{plan}\n"
        for i, (meth, plan) in enumerate(steps, 1)
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
            # the operator returns an eagerly-checkpointed RDD (whose
            # explain is a bare RDD scan), so mirror ONE loop-body
            # update of operators/kg_metrics.pagerank here to expose
            # the per-iteration plan the operator repeats
            li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            edges = li.select(
                F.concat(F.lit("O"), F.col("l_orderkey")).alias("src"),
                F.concat(F.lit("S"), F.col("l_suppkey")).alias("dst"),
            ).distinct()
            ep = (
                edges.select(F.col("src").alias("_s"), F.col("dst").alias("_t"))
                .repartition("_s")
                .persist()
            )
            deg = ep.groupBy("_s").agg(
                F.count("*").cast("double").alias("_od")
            ).persist()
            nodes = (
                deg.select(F.col("_s").alias("node"))
                .unionByName(ep.select(F.col("_t").alias("node")).distinct())
                .distinct()
                .persist()
            )
            n = float(nodes.count())
            rank = nodes.select("node", F.lit(1.0 / n).alias("rank"))
            w = deg.join(rank.withColumnRenamed("node", "_s"), on="_s").select(
                "_s", (F.col("rank") / F.col("_od")).alias("_w")
            )
            contrib = (
                ep.join(w, on="_s")
                .groupBy(F.col("_t").alias("node"))
                .agg(F.sum("_w").alias("_in"))
            )
            df = nodes.join(contrib, on="node", how="left").select(
                "node",
                (
                    F.lit(0.15 / n)
                    + F.lit(0.85) * F.coalesce(F.col("_in"), F.lit(0.0))
                ).alias("rank"),
            )
            text = _explain(df)
        elif name in ("build_dense", "kg_rank"):
            text = _perfbench_actions(spark, name)
        elif actions:
            steps = []
            with _recording_actions(spark, steps):
                df = QUERIES[name](spark, sf_dir)
                df.collect()
            text = "".join(
                f"==== action {i}: {meth} ====\n{plan}\n"
                for i, (meth, plan) in enumerate(steps, 1)
            )
        else:
            text = _explain(QUERIES[name](spark, sf_dir))
        path = f"{outdir}/{name}_{tag}.txt"
        with open(path, "w") as f:
            f.write(_mask(text))
        print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
