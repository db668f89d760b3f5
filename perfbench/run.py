"""KG-build benchmark for phenobert_spark.

    python3 perfbench/run.py --workload build_dense --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Workloads (BENCHMARK.json says why each
exists; perfbench/LAYERS.md maps layers to metrics): build_dense and
kg_rank. Inputs are generated from ``--seed``; every call goes through
the public entry points the spark-submit jobs use, on one driver at
local[nproc], and every output is checked against an independent
reference outside the timer.

``--trace 0`` prints the end-to-end metrics: set-up time, the median
call wall time over ``--seconds`` of calls (at least the workload's
``min_calls``), and peak RSS of the Spark JVM and its Python workers.
``--trace 1`` prints the per-layer metrics: it times the call untraced at local[n],
re-runs every layer as prefix cuts in a session with Spark's event log
on, and times the call once more at local[1].

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Everything the run writes lives under ``.perfbench_work/`` in the
checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETUP_REPS = 3
MAX_CALLS = 60
UNTRACED_CALLS = 2


def units() -> dict[str, str]:
    """Metric name -> unit, as declared in BENCHMARK.json."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


class Bench:
    """One driver process: owns the SparkSession (restarted between the
    untraced, traced and local[1] phases of a traced run), the ontology
    and the workload."""

    def __init__(self, workload: str, seed: int, work: Path):
        from perfbench.workloads import WORKLOADS

        self.ncpu = len(os.sched_getaffinity(0))
        self.work = work
        self.spark = self.onto = None
        self.wl = WORKLOADS[workload](str(work), seed)

    def start(self, cpus: int | None = None, event_log: str | None = None) -> None:
        from phenobert_spark.config import get_spark

        self.stop()
        extra = {
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'}",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            os.makedirs(event_log)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{cpus or self.ncpu}]",
            shuffle_partitions=self.ncpu, extra=extra,
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop Spark, end the JVM and wait for it and its workers."""
        from pyspark import SparkContext

        from perfbench import measure

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        kids = measure.descendants(os.getpid())
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        measure.wait_gone(kids)

    def load_ontology(self) -> dict:
        """get_ontology, the pruning vocabulary and the dictionary frame,
        each timed (the pipeline reuses all three from the ontology's
        caches)."""
        from phenobert_spark.ontology import get_ontology

        from perfbench.workloads import CFG

        t0 = time.perf_counter()
        self.onto = get_ontology()
        t1 = time.perf_counter()
        vocab = self.onto.prune_vocab(syn_min_count=CFG.syn_tier_min_count,
                                      syn_phrase_min_count=CFG.syn_phrase_min_count)
        t2 = time.perf_counter()
        dict_df = self.onto.dict_df(self.spark, syn_min_count=CFG.syn_tier_min_count,
                                    syn_phrase_min_count=CFG.syn_phrase_min_count, drop_one=CFG.drop_one_dict)
        t3 = time.perf_counter()
        self.vocab, self.dict_df = vocab, dict_df
        return {"load": t1 - t0, "vocab": t2 - t1, "dict_df": t3 - t2}

    def setup(self) -> float:
        """In-session set-up: a fresh ontology, its pruning vocabulary and
        dictionary frame, and the workload's first use of them (see
        ``Workload.setup_job``)."""
        t0 = time.perf_counter()
        self.load_ontology()
        self.wl.setup_job(self)
        return time.perf_counter() - t0

    def timed_calls(self, seconds: float, min_calls: int, max_calls: int):
        """Calls until ``seconds`` of call time have accumulated; each is
        checked outside the timer. Returns (walls, RSS peaks, attempted,
        failed)."""
        from perfbench import measure

        walls, peaks = [], []
        attempted = failed = 0
        spent = 0.0
        while (spent < seconds or attempted < min_calls) and attempted < max_calls:
            self.wl.reset(self)
            attempted += 1
            t0 = time.perf_counter()
            try:
                with measure.PeakSampler(measure.tree_rss) as rss:
                    self.wl.call(self)
                dt = time.perf_counter() - t0
                ok = self.wl.check(self)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                failed += 1
                spent += time.perf_counter() - t0
                continue
            spent += dt
            failed += not ok
            walls.append(dt)
            peaks.append(rss.peak)
        if not walls:
            raise RuntimeError("no call completed")
        return walls, peaks, attempted, failed

    def run_plain(self, seconds: float) -> dict:
        """setup_s = session start + median of SETUP_REPS in-session
        set-ups + one warm-up call (the first call in a JVM runs cold);
        wall_s = median of the calls after it."""
        t0 = time.perf_counter()
        self.start()
        session_s = time.perf_counter() - t0
        self.load_ontology()
        self.wl.prepare(self)
        setups = [self.setup() for _ in range(SETUP_REPS)]
        warm, _, a0, f0 = self.timed_calls(0, 1, 1)
        walls, peaks, attempted, failed = self.timed_calls(seconds, self.wl.min_calls, MAX_CALLS)
        print(f"session_s={session_s:.3f} setups={[round(x, 3) for x in setups]} warmup_s={warm[0]:.3f} "
              f"walls={[round(w, 3) for w in walls]}", file=sys.stderr)
        metrics = {
            "setup_s": session_s + statistics.median(setups) + warm[0],
            "wall_s": statistics.median(walls),
            "peak_rss_mb": statistics.median(peaks) / 2**20,
        }
        return result(failed + f0 == 0, attempted + a0, failed + f0, metrics)

    def run_trace(self) -> dict:
        """Untraced calls at local[n] (the last, warm one is the
        reference wall), the traced chain in a session with the event
        log on, then one call at local[1] with the same plan."""
        from perfbench import layers, measure, workloads

        self.start()
        self.load_ontology()
        self.wl.prepare(self)
        walls, _, attempted, failed = self.timed_calls(0, UNTRACED_CALLS, UNTRACED_CALLS)
        log_dir = str(self.work / "eventlog")
        self.start(event_log=log_dir)
        onto_s = self.load_ontology()
        workloads.broadcast_job(self)  # the new session's Python workers
        onto_s["broadcast_kb"] = (len(pickle.dumps(self.vocab)) + len(pickle.dumps(self.dict_df.toPandas()))) / 1024
        t = layers.traced_chain(self, self.wl)
        self.start(cpus=1)  # stopping the traced session flushes its event log
        self.load_ontology()
        w1, _, a1, f1 = self.timed_calls(0, 1, 1)
        metrics = layers.layer_metrics(self, self.wl, t, measure.rollup(log_dir), walls[-1], w1[0], onto_s)
        print(json.dumps({"walls": t["walls"], "untraced_wall_s": walls, "local1_wall_s": w1[0]}), file=sys.stderr)
        failed += f1 + t["checks"].count(False)
        return result(failed == 0, attempted + a1 + len(t["checks"]), failed, metrics)


def result(correct: bool, attempted: int, failed: int, metrics: dict) -> dict:
    unit = units()
    return {
        "correct": bool(correct),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": unit[k]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["build_dense", "kg_rank"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    # the engine under test is the checkout's own package
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    ncpu = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "SPARK_DRIVER_MEMORY": "1g",
        "TMPDIR": str(work / "tmp"),
        # Python workers import the engine from the checkout too
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
    })
    bench = None
    try:
        bench = Bench(args.workload, args.seed, work)
        out = bench.run_trace() if args.trace else bench.run_plain(args.seconds)
    finally:
        if bench is not None:
            bench.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run's directory is still there
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
