"""Dump .explain("formatted") for the named contract queries (and the
kg_pagerank bench composition) to <outdir>/<name>_<tag>.txt.

Usage: python tools/dump_plans.py <outdir> <tag> [--actions] <query> [query ...]
  (query "kg_pagerank" dumps the bench's pagerank composition)

--actions instead records, in execution order, the physical operator
tree of every frame an action materializes while the query is built
and collected (localCheckpoint, count, isEmpty, collect): the
per-round plans of an iterative operator, which its final plan no
longer shows.
"""

import contextlib
import io
import sys

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from phenobert_spark.config import get_spark  # noqa: E402


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


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
    """Append (action, plan) for every listed DataFrame action run inside
    the block, the plan explained just before the action executes."""
    DataFrame = type(spark.range(0))

    saved = {}
    for meth in ("localCheckpoint", "count", "isEmpty", "collect"):
        saved[meth] = orig = getattr(DataFrame, meth)

        def wrapped(self, *a, _orig=orig, _meth=meth, **kw):
            out.append((_meth, _work_tree(self)))
            return _orig(self, *a, **kw)

        setattr(DataFrame, meth, wrapped)
    try:
        yield
    finally:
        for meth, orig in saved.items():
            setattr(DataFrame, meth, orig)


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
            f.write(text)
        print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
