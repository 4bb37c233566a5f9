"""Link-graph benchmark: one workload per process at local[<cores>].

    python3 perfbench/run.py --workload linkgraph-kernels --seed 1 --seconds 10 --trace 0

Run from the repository root. The inputs are generated from --seed
into a scratch directory under ``.perfbench/`` in the working
directory, which is removed at exit. The run builds the session, warms
it up with the workload's ingest operations, times those operations
again (``ingest_repeats`` times), then repeats timed passes over all operations until
--seconds have passed (at least one), checks every output against an
independent reference, and prints one JSON object as the last line of
stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics (medians over the timed
passes). --trace 1 traces every timed pass and reports the per-layer
metrics instead; its ``bench.traced_run_s`` against ``run_s`` of the
same seed is the tracing overhead. Spans are written to
``.perfbench/spans/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from tracing import Tracer  # noqa: E402
from workloads import WORKLOADS, dir_mb  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "ops_ok": "ratio",
    "pagerank_eps": "edges/s",
    "wcc_s": "s",
    "lpa_s": "s",
    "triangles_s": "s",
    "ingest_s": "s",
}

SITES = (
    "sources.extract_links",
    "sources.edges_from_links",
    "graph.from_edges",
    "operators.pagerank",
    "operators.wcc",
    "operators.label_propagation",
    "operators.triangle_count",
    "runner.run",
)
INGEST_SITES = SITES[:3]
COUNTER_UNITS = {
    "wall_s": "s", "jobs": "count", "stages": "count", "cpu_s": "s",
    "busy_frac": "ratio", "gc_s": "s", "shuffle_mb": "MB",
}
EXTRA_LAYER_UNITS = {
    "session.build_session.wall_s": "s",
    "session.warmup.wall_s": "s",
    "operators.pagerank.supersteps": "count",
    "operators.wcc.supersteps": "count",
    "operators.label_propagation.supersteps": "count",
    "sources.extract_links.udf_wait_s": "s",
    "sources.link_rows": "count",
    "plans.checkpoints": "count",
    "plans.checkpoint_mb": "MB",
    "plans.fold_s": "s",
    "runner.run.sink_mb": "MB",
    "bench.traced_run_s": "s",
    "bench.trace_readout_s": "s",
    # VmHWM ranged 1562-2072 MB over five repo-ingest seeds (4-core
    # machine), too wide for an end-to-end bound, so it is reported here
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{s}.{c}": u for s in SITES for c, u in COUNTER_UNITS.items()}
    units.update(EXTRA_LAYER_UNITS)
    return units


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor; below 1 only for the self-test")
    return p.parse_args(argv)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def start_session(scratch: str, cores: int):
    from neo4j_graph_algorithms_spark.session import build_session

    local = os.path.join(scratch, "spark-local")
    os.makedirs(local, exist_ok=True)
    return build_session(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            # no hsperfdata file in /tmp: the run writes only under its scratch
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            # the status store evicts past these limits; raised in
            # traced and untraced runs alike so both run the same system
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it
    started, which exit with it) to end."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Bench:
    def __init__(self, args, workload, spark, build_s: float, scratch: str, cores: int):
        self.args = args
        self.workload = workload
        self.spark = spark
        self.build_s = build_s
        self.scratch = scratch
        self.tracer = Tracer(spark, args.workload, cores)
        self.ops = self.workload.ops(self.spark)  # references computed here
        self.attempted = 0
        self.failed = 0
        self.pass_ok = []  # share of each pass's operations that passed

    def run_pass(self, pass_id: str, traced: bool, ops=None) -> dict:
        """One pass over the workload's operations (or over `ops`);
        returns per-op seconds, outputs and spans. Checks run after the
        timing."""
        ops = self.ops if ops is None else ops
        st = {"work": os.path.join(self.scratch, "pass", pass_id)}
        os.makedirs(st["work"])
        secs, outs, spans = {}, {}, {}
        with self.tracer.span("pass", pass_id, traced=False) as whole:
            for op in ops:
                with self.tracer.span(op.site, pass_id, traced) as s:
                    try:
                        outs[op.site] = op.run(st)
                    except Exception:
                        traceback.print_exc()
                        outs[op.site] = None
                secs[op.site] = s.end - s.start
                spans[op.site] = s
        res = {"run_s": whole.end - whole.start, "secs": secs, "outs": outs, "spans": spans}
        # filesystem facts that the checks below do not need
        res["checkpoint_mb"] = dir_mb(os.path.join(st["work"], "ckpt"))
        res["sink_mb"] = dir_mb(os.path.join(st["work"], "sink"))
        if traced:
            t = time.perf_counter()
            res["counters"] = {site: self.tracer.counters(s) for site, s in spans.items()}
            res["readout_s"] = time.perf_counter() - t
        failed = 0
        for op in ops:
            try:
                if outs[op.site] is None:
                    raise RuntimeError(f"{op.site} raised")
                op.check(outs[op.site], st)
            except Exception as e:
                failed += 1
                print(f"FAILED {self.args.workload} pass {pass_id} {op.site}: {e}", file=sys.stderr)
        self.attempted += len(ops)
        self.failed += failed
        self.pass_ok.append((len(ops) - failed) / len(ops))
        self.workload.release(st)
        shutil.rmtree(st["work"], ignore_errors=True)
        print(f"pass {pass_id}: run_s {res['run_s']:.3f} " + " ".join(f"{k}={v:.3f}" for k, v in secs.items()), file=sys.stderr)
        return res

    def end_to_end(self, setup_s: float, passes: list[dict], ingest_passes: list[dict]) -> dict:
        med = lambda xs: statistics.median(xs)
        secs = lambda site: med([p["secs"][site] for p in passes])
        ingest_sites = [s for s in INGEST_SITES if s in passes[0]["secs"]]
        ingest = lambda p: sum(p["secs"][s] for s in ingest_sites)
        wcc_site = "operators.wcc" if "operators.wcc" in passes[0]["secs"] else "runner.run"
        pr_steps = passes[0]["outs"]["operators.pagerank"][1]["iterations"] if passes[0]["outs"]["operators.pagerank"] else 0
        values = {
            "setup_s": setup_s,
            "run_s": med([p["run_s"] for p in passes]),
            # worst pass, not the run total: a pass holds at most 7
            # operations, so one failure moves this by more than its bound
            "ops_ok": min(self.pass_ok),
            "pagerank_eps": self.workload.n_edges * pr_steps / secs("operators.pagerank"),
            "wcc_s": secs(wcc_site),
            "lpa_s": secs("operators.label_propagation"),
            "triangles_s": secs("operators.triangle_count"),
            "ingest_s": med([ingest(p) for p in ingest_passes + passes]),
        }
        return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}

    def per_layer(self, traced: list[dict]) -> dict:
        units = per_layer_units()
        values = dict.fromkeys(units, 0.0)
        for site in SITES:
            for c in COUNTER_UNITS:
                vals = [p["counters"][site][c] for p in traced if site in p["counters"]]
                if vals:
                    values[f"{site}.{c}"] = statistics.median(vals)
        p = traced[0]
        outs = p["outs"]
        pr = outs.get("operators.pagerank")
        if pr:
            stats = pr[1]
            values["operators.pagerank.supersteps"] = stats["iterations"]
            values["plans.checkpoints"] = len(stats["checkpoints"])
            values["plans.fold_s"] = sum(h["secs"] for h in stats["history"] if h["folded"])
        values["plans.checkpoint_mb"] = p["checkpoint_mb"]
        wcc = outs.get("operators.wcc") or outs.get("runner.run")
        if wcc:
            values["operators.wcc.supersteps"] = wcc[1]["iterations"]
        lpa = outs.get("operators.label_propagation")
        if lpa:
            values["operators.label_propagation.supersteps"] = lpa[1]["ranIterations"]
        if "sources.extract_links" in p["counters"]:
            c = p["counters"]["sources.extract_links"]
            values["sources.extract_links.udf_wait_s"] = c["run_s"] - c["cpu_s"]
            values["sources.link_rows"] = outs["sources.extract_links"] or 0
        values["runner.run.sink_mb"] = p["sink_mb"]
        values["session.build_session.wall_s"] = self.build_s
        values["session.warmup.wall_s"] = self.warm_s
        values["bench.traced_run_s"] = statistics.median(x["run_s"] for x in traced)
        values["bench.trace_readout_s"] = statistics.median(x["readout_s"] for x in traced)
        values["peak_rss_mb"] = jvm_peak_rss_mb(self.spark)
        return {k: {"value": v, "unit": units[k]} for k, v in values.items()}

    def measure(self) -> dict:
        # warm-up: the workload's ingest operations once, so the
        # first-query cost of a fresh JVM lands in set-up, not in
        # ingest_s (a full warm-up pass would double the run time)
        ingest_ops = [o for o in self.ops if o.site in INGEST_SITES]
        t = time.perf_counter()
        with self.tracer.span("session.warmup", "warmup", traced=False):
            self.run_pass("warmup", traced=False, ops=ingest_ops)
        self.warm_s = time.perf_counter() - t
        setup_s = self.build_s + self.warm_s

        ingest_passes = [self.run_pass(f"ingest{i}", traced=False, ops=ingest_ops) for i in range(self.workload.ingest_repeats)]
        passes = []
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < self.args.seconds:
            passes.append(self.run_pass(str(len(passes)), traced=self.args.trace == 1))
        if self.args.trace:
            metrics = self.per_layer(passes)
        else:
            metrics = self.end_to_end(setup_s, passes, ingest_passes)
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "neo4j_graph_algorithms_spark")):
        print("run from the repository root: neo4j_graph_algorithms_spark/ not found", file=sys.stderr)
        return 2
    base = os.path.join(root, ".perfbench")
    scratch = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(scratch, "tmp"))
    os.makedirs(os.path.join(base, "spans"), exist_ok=True)
    # Spark's Python workers import the program from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(scratch, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    # no forced periodic full GC inside a run: its pause would land at a
    # random point of the one timed pass (the session reads this knob)
    os.environ["NGA_PERIODIC_GC"] = "1h"
    sys.path.insert(0, root)
    spark = None
    phases = {}  # wall time of each phase of the run, for stderr
    t = time.perf_counter()

    def lap(name: str) -> float:
        nonlocal t
        now = time.perf_counter()
        phases[name], t = now - t, now
        return phases[name]

    try:
        workload = WORKLOADS[args.workload](scratch, args.seed, args.scale)
        lap("inputs and references")
        cores = len(os.sched_getaffinity(0))
        spark = start_session(scratch, cores)
        bench = Bench(args, workload, spark, lap("session"), scratch, cores)
        lap("kernel references")
        result = bench.measure()
        lap("measure")
        bench.tracer.write(os.path.join(
            base, "spans", f"{args.workload}-seed{args.seed}-trace{args.trace}.jsonl"))
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(scratch, ignore_errors=True)
    lap("stop")
    print("phases: " + " ".join(f"{k}={v:.2f}s" for k, v in phases.items()), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
