"""Benchmark runner: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload pages_pagerank_ref --seed 1 \
        --seconds 5 --trace 0

Run from the repository root. The run generates the workload's inputs
for the seed (once; cached under perfbench/.data/), starts the engine's
Spark session (`session.get_spark`, local[cores]), runs the workload
until --seconds have passed, checks every output against the numpy
oracles, and prints as its last stdout line {"correct", "attempted",
"failed", "metrics"}.

--trace 0 reports the end-to-end metrics. --trace 1 runs the workload
once to warm up, then alternates untraced and traced executions and
reports the per-layer metrics, including the tracing overhead. See
README.md for what every metric means.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, ".data")
RUN_LIMIT_S = 150  # start no repetition that would end past this
SETUP_SAMPLES = 5

END_TO_END = {
    "setup_s": "s",
    "solve_s": "s",
    "edges_per_s": "edges/s",
    "peak_rss_mb": "MB",
    "ok_ratio": "ratio",
}
PER_LAYER = {
    "ingest.extract.wall_s": "s",
    "ingest.edges.build_s": "s",
    "ingest.edges.jobs": "count",
    "ingest.edges.tasks": "count",
    "graph.pagerank.outside_loop_s": "s",
    "graph.pagerank.loop_s": "s",
    "graph.pagerank.iter_s_p50": "s",
    "graph.pagerank.iterations": "count",
    "graph.pagerank.jobs_per_iter": "jobs",
    "graph.pagerank.resume_s": "s",
    "io.checkpoint.write_s": "s",
    "io.checkpoint.writes": "count",
    "io.checkpoint.bytes": "bytes",
    "io.checkpoint.read_s": "s",
    "graph.components.wall_s": "s",
    "graph.components.iterations": "count",
    "graph.components.jobs": "count",
    "graph.labelprop.wall_s": "s",
    "graph.labelprop.iterations": "count",
    "graph.labelprop.jobs": "count",
    "graph.triangles.wall_s": "s",
    "graph.triangles.jobs": "count",
    "graph.triangles.tasks": "count",
    "jvm.gc_s": "s",
    "jvm.warmup_s": "s",
    "spark.failed_tasks": "count",
    "tracing.span_coverage": "ratio",
    "tracing.overhead_s": "s",
}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=4, help="local[cores]")
    ap.add_argument("--shuffle-partitions", type=int, default=None,
                    help="spark.sql.shuffle.partitions (default: cores)")
    ap.add_argument("--driver-memory", default="4g",
                    help="SPARK_DRIVER_MEMORY; keep it below physical RAM")
    ap.add_argument("--size", default="ref", choices=["ref", "tiny"],
                    help="input size; tiny is for the benchmark's tests")
    return ap.parse_args(argv)


def ensure_inputs(workload: str, seed: int, size: str) -> str:
    """Generate (once per seed and size) in a child process, so the
    generator's and oracles' memory stay out of this process."""
    out = os.path.join(DATA, f"{workload}-{size}-seed{seed}")
    if not os.path.exists(os.path.join(out, "_done.json")):
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
             "--seed", str(seed), "--size", size, "--out", out],
            check=True, stdout=sys.stderr,
        )
    return out


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Session:
    """The engine's Spark session, started the way a job starts it."""

    def __init__(self, args: argparse.Namespace, tmp: str) -> None:
        self.args = args
        self.tmp = tmp
        self.spark = None

    def start(self) -> float:
        """Session start through the first completed job, in seconds."""
        from pagerankproject_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.args.cores}]",
            shuffle_partitions=self.args.shuffle_partitions or self.args.cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.defaultJavaOptions":
                    f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
            },
        )
        self.spark.range(1).count()
        elapsed = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return elapsed

    def restart(self) -> float:
        self.spark.stop()
        return self.start()

    def clean(self) -> None:
        """Drop what one execution cached, outside every timed region."""
        self.spark.catalog.clearCache()
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()  # lets Spark's cleaner free RDDs

    def jvm_pid(self) -> int:
        return int(self.spark.sparkContext._jvm.ProcessHandle.current().pid())

    def close(self) -> None:
        """Stop the session and wait for the JVM to exit: it leaves when
        its stdin pipe closes."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)


def layer_metrics(rep) -> dict[str, float]:
    """Per-layer metrics of one traced execution, from its spans."""
    tracer = rep.tracer
    spans = tracer.spans

    def idx(name):
        return [i for i, s in enumerate(spans) if s.name == name]

    def total(name, attr):
        return sum(getattr(spans[i], attr) for i in idx(name))

    def attr(name, key):
        return sum(spans[i].attrs.get(key, 0) for i in idx(name))

    pr_self = sum(tracer.self_time(i) for i in idx("graph.pagerank"))
    pr_loop = attr("graph.pagerank", "loop_s")
    pr_iters = attr("graph.pagerank", "iterations")
    top = [s for s in spans if s.parent is None]
    return {
        "ingest.extract.wall_s": total("ingest.extract", "wall"),
        "ingest.edges.build_s": total("ingest.edges", "wall"),
        "ingest.edges.jobs": total("ingest.edges", "jobs"),
        "ingest.edges.tasks": total("ingest.edges", "tasks"),
        "graph.pagerank.outside_loop_s": pr_self - pr_loop,
        "graph.pagerank.loop_s": pr_loop,
        "graph.pagerank.iter_s_p50":
            statistics.median(rep.iteration_walls) if rep.iteration_walls else 0.0,
        "graph.pagerank.iterations": pr_iters,
        "graph.pagerank.jobs_per_iter":
            total("graph.pagerank", "jobs") / pr_iters if pr_iters else 0.0,
        "graph.pagerank.resume_s": rep.resume_s or 0.0,
        "io.checkpoint.write_s": total("io.checkpoint.write", "wall"),
        "io.checkpoint.writes": len(idx("io.checkpoint.write")),
        "io.checkpoint.bytes": attr("io.checkpoint.write", "bytes"),
        "io.checkpoint.read_s": total("io.checkpoint.read", "wall"),
        "graph.components.wall_s": total("graph.components", "wall"),
        "graph.components.iterations": attr("graph.components", "iterations"),
        "graph.components.jobs": total("graph.components", "jobs"),
        "graph.labelprop.wall_s": total("graph.labelprop", "wall"),
        "graph.labelprop.iterations": attr("graph.labelprop", "iterations"),
        "graph.labelprop.jobs": total("graph.labelprop", "jobs"),
        "graph.triangles.wall_s": total("graph.triangles", "wall"),
        "graph.triangles.jobs": total("graph.triangles", "jobs"),
        "graph.triangles.tasks": total("graph.triangles", "tasks"),
        "jvm.gc_s": sum(s.gc_s for s in top),
        "spark.failed_tasks": sum(s.failed_tasks for s in spans),
        "tracing.span_coverage":
            sum(s.wall for s in top) / rep.solve_s if rep.solve_s else 0.0,
    }


def run(args: argparse.Namespace) -> dict:
    from spans import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    begin = time.perf_counter()
    data = ensure_inputs(args.workload, args.seed, args.size)
    os.makedirs(DATA, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=DATA)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_DRIVER_MEMORY=args.driver_memory,
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        # spark-submit's launcher JVM, which builds the driver's command
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    tempfile.tempdir = tmp
    session = Session(args, tmp)
    try:
        setup = [session.start()]
        setup += [session.restart() for _ in range(SETUP_SAMPLES - 1)]
        workload = WORKLOADS[args.workload](session.spark, data, work)
        cold, untraced, traced = [], [], []

        def execute(traced_run: bool):
            if cold or untraced:
                session.clean()
            return workload.rep(Tracer(session.spark, traced_run))

        # A job pays JIT and codegen warm-up on every launch, so untraced
        # runs time the first execution. Traced runs compare traced with
        # untraced executions, so they warm up first and report the
        # difference as jvm.warmup_s.
        if args.trace:
            cold.append(execute(False))
        window = time.perf_counter()
        while True:
            t0 = time.perf_counter()
            untraced.append(execute(False))
            if args.trace:
                traced.append(execute(True))
            now = time.perf_counter()
            if now - window >= args.seconds or now - begin + (now - t0) > RUN_LIMIT_S:
                break
        reps = cold + untraced + traced
        rss = vm_hwm_mb("self") + vm_hwm_mb(session.jvm_pid())
    finally:
        session.close()
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(r.attempted for r in reps)
    failed = sum(r.failed for r in reps)
    if args.trace:
        layers = [layer_metrics(r) for r in traced]
        values = {k: statistics.median(m[k] for m in layers) for k in PER_LAYER if k in layers[0]}
        warm = statistics.median(r.solve_s for r in untraced)
        values["tracing.overhead_s"] = statistics.median(r.solve_s for r in traced) - warm
        values["jvm.warmup_s"] = cold[0].solve_s - warm
        units = PER_LAYER
    else:
        values = {
            "setup_s": statistics.median(setup),
            "solve_s": statistics.median(r.solve_s for r in untraced),
            "edges_per_s": statistics.median(
                r.loop_edge_visits / r.loop_wall_s if r.loop_wall_s else 0.0
                for r in untraced
            ),
            "peak_rss_mb": rss,
            "ok_ratio": (attempted - failed) / attempted,
        }
        units = END_TO_END
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pagerankproject_spark")):
        print("perfbench: run from a checkout of the engine "
              "(pagerankproject_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
