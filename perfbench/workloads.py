"""The benchmark workloads: their timed calls and output checks.

Each workload object is built once per run over the generated tables and
oracle answers of one (seed, size), then `rep()` runs the workload's
public engine calls once: the timed region goes from the tables on disk
to a materialized result; the output check after it is untimed. A call
that raises or fails its check is counted, its traceback goes to
stderr, and the run goes on.

Span names are engine module names; run.py turns them into the
per-layer metrics listed in BENCHMARK.json.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from pagerankproject_spark.graph.components import connected_components_auto
from pagerankproject_spark.graph.labelprop import label_propagation
from pagerankproject_spark.graph.pagerank import pagerank
from pagerankproject_spark.graph.triangles import triangle_counts
from pagerankproject_spark.ingest.edges import build_graph_tables
from pagerankproject_spark.ingest.extract import extract_outlinks
from pagerankproject_spark.io.checkpoint import ParquetCheckpointer

from gen import CRASH_AFTER, LPA_MAX_ITERATIONS
from spans import Tracer

RANK_ATOL = 1e-6


class CheckFailed(Exception):
    """A call returned, but its output disagrees with the oracle."""


@dataclass
class Rep:
    """One execution of a workload."""

    solve_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    loop_edge_visits: int = 0  # edges x iterations of the iterative calls
    loop_wall_s: float = 0.0  # wall of those calls
    resume_s: float | None = None
    iteration_walls: list[float] = field(default_factory=list)
    tracer: Tracer | None = None


class _Calls:
    """Runs a rep's public calls in order, timing each and counting
    outcomes; after the first failure the remaining calls count as
    attempted and failed without running (they need its output)."""

    def __init__(self, rep: Rep, workload: str) -> None:
        self.rep = rep
        self.workload = workload
        self.broken = False

    def call(self, name: str, fn):
        """fn() -> result; its wall time is added to solve_s."""
        self.rep.attempted += 1
        if self.broken:
            self.rep.failed += 1
            return None
        t0 = time.perf_counter()
        try:
            return fn()
        except Exception:
            self.fail(name)
            return None
        finally:
            self.rep.solve_s += time.perf_counter() - t0

    def check(self, name: str, fn) -> None:
        """fn() raises CheckFailed (or anything) if the output is wrong;
        untimed. Turns the call that produced the output into a failure."""
        if self.broken:
            return
        try:
            fn()
        except Exception:
            self.fail(name)

    def fail(self, name: str) -> None:
        self.rep.failed += 1
        self.broken = True
        print(f"[perfbench] {self.workload}: {name} failed", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)


def _check_ranks(got: pd.DataFrame, expected: pd.DataFrame) -> None:
    merged = expected.merge(got, on="url", how="outer", suffixes=("_exp", "_got"))
    if len(merged) != len(expected) or merged["x_got"].isna().any():
        raise CheckFailed(
            f"rank urls differ: {len(got)} ranked, {len(expected)} expected"
        )
    diff = float(np.max(np.abs(merged["x_got"] - merged["x_exp"])))
    if not diff <= RANK_ATOL:
        raise CheckFailed(f"max |rank - oracle| = {diff:.3e} > {RANK_ATOL}")


def _check_exact(got: pd.DataFrame, expected: pd.DataFrame, what: str) -> None:
    cols = list(expected.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    e = expected.sort_values(cols).reset_index(drop=True)
    if not g.equals(e):
        raise CheckFailed(f"{what}: {len(g)} rows differ from the oracle's {len(e)}")


def _require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def _pagerank_attrs(span, res) -> None:
    if span is not None and res is not None:
        span.attrs["iterations"] = len(res.metrics)
        span.attrs["loop_s"] = sum(m["wall_sec"] for m in res.metrics)


class PagesPagerankRef:
    """The north-star pipeline over a `pages` table: extract_outlinks ->
    build_graph_tables -> pagerank(spmv="auto"), which picks the
    driver-local SpMV at this size, then connected_components_auto,
    label_propagation and triangle_counts on the same graph.
    (pagerank_from_edges is exactly build_graph_tables + pagerank; the
    graph algorithms need the GraphTables, so the two run separately.)"""

    name = "pages_pagerank_ref"

    def __init__(self, spark: SparkSession, data: str, work: str) -> None:
        self.spark = spark
        self.data = data
        self.expected = {
            k: pd.read_parquet(os.path.join(data, f"expected_{k}"))
            for k in ("ranks", "cc", "lpa", "triangles")
        }
        with open(os.path.join(data, "_done.json")) as f:
            self.total_triangles = json.load(f)["triangles"]

    def rep(self, tracer: Tracer) -> Rep:
        rep = Rep(tracer=tracer)
        calls = _Calls(rep, self.name)
        exp = self.expected

        def extract():
            with tracer.span("ingest.extract"):
                pages = self.spark.read.parquet(os.path.join(self.data, "pages"))
                return extract_outlinks(pages)

        def build(edges):
            with tracer.span("ingest.edges"):
                return build_graph_tables(self.spark, edges)

        def rank():
            with tracer.span("graph.pagerank") as sp:
                t0 = time.perf_counter()
                res = pagerank(self.spark, g, alpha=0.85, epsilon=1e-6, spmv="auto")
                ranks = res.ranks.localCheckpoint(eager=True)
                wall = time.perf_counter() - t0
                _pagerank_attrs(sp, res)
            rep.loop_edge_visits += g.num_edges * len(res.metrics)
            rep.loop_wall_s += wall
            rep.iteration_walls += [m["wall_sec"] for m in res.metrics]
            return res, ranks

        def run(span_name, fn, frame, loop=True):
            with tracer.span(span_name) as sp:
                t0 = time.perf_counter()
                res = fn()
                out = frame(res).localCheckpoint(eager=True)
                wall = time.perf_counter() - t0
                if sp is not None and loop:
                    sp.attrs["iterations"] = res.iterations
            if loop:
                rep.loop_edge_visits += g.num_edges * res.iterations
                rep.loop_wall_s += wall
            return res, out

        edges = calls.call("extract_outlinks", extract)
        g = calls.call("build_graph_tables", lambda: build(edges))
        pr = calls.call("pagerank", rank)
        calls.check(
            "pagerank",
            lambda: (
                _require(pr[0].converged, "pagerank did not converge"),
                _check_ranks(pr[1].select("url", "x").toPandas(), exp["ranks"]),
            ),
        )
        cc = calls.call(
            "connected_components_auto",
            lambda: run(
                "graph.components",
                lambda: connected_components_auto(self.spark, g),
                lambda r: r.components,
            ),
        )
        calls.check(
            "connected_components_auto",
            lambda: (
                _require(cc[0].converged, "components did not converge"),
                _check_exact(cc[1].toPandas(), exp["cc"], "components"),
            ),
        )
        lpa = calls.call(
            "label_propagation",
            lambda: run(
                "graph.labelprop",
                lambda: label_propagation(self.spark, g, max_iterations=LPA_MAX_ITERATIONS),
                lambda r: r.labels,
            ),
        )
        calls.check(
            "label_propagation",
            lambda: _check_exact(lpa[1].toPandas(), exp["lpa"], "labels"),
        )
        tri = calls.call(
            "triangle_counts",
            lambda: run(
                "graph.triangles",
                lambda: triangle_counts(self.spark, g),
                lambda r: r.per_edge,
                loop=False,
            ),
        )
        calls.check(
            "triangle_counts",
            lambda: (
                _require(
                    tri[0].total == self.total_triangles,
                    f"{tri[0].total} triangles, oracle {self.total_triangles}",
                ),
                _check_exact(tri[1].toPandas(), exp["triangles"], "triangles"),
            ),
        )
        if g is not None:
            g.unpersist()
        return rep


class PagerankCkptResume:
    """build_graph_tables -> pagerank(checkpoint_interval=1) stopped after
    CRASH_AFTER iterations (a simulated crash) -> pagerank(resume=True)
    to convergence. Library defaults otherwise (spmv="dataframe")."""

    name = "pagerank_ckpt_resume"

    def __init__(self, spark: SparkSession, data: str, work: str) -> None:
        self.spark = spark
        self.data = data
        self.ckpt_dir = os.path.join(work, "checkpoints")
        self.expected = pd.read_parquet(os.path.join(data, "expected_ranks"))

    def rep(self, tracer: Tracer) -> Rep:
        rep = Rep(tracer=tracer)
        calls = _Calls(rep, self.name)
        shutil.rmtree(self.ckpt_dir, ignore_errors=True)

        def build():
            with tracer.span("ingest.edges"):
                e = self.spark.read.parquet(os.path.join(self.data, "edges"))
                return build_graph_tables(self.spark, e)

        def run(g, resume):
            with tracer.span("graph.pagerank") as sp:
                t0 = time.perf_counter()
                res = pagerank(
                    self.spark,
                    g,
                    checkpoint_dir=self.ckpt_dir,
                    checkpoint_interval=1,
                    max_iterations=1000 if resume else CRASH_AFTER,
                    resume=resume,
                )
                ranks = res.ranks.localCheckpoint(eager=True) if resume else None
                wall = time.perf_counter() - t0
                _pagerank_attrs(sp, res)
            rep.loop_edge_visits += g.num_edges * len(res.metrics)
            rep.loop_wall_s += wall
            rep.iteration_walls += [m["wall_sec"] for m in res.metrics]
            if resume:
                rep.resume_s = wall
            return res, ranks

        with _checkpoint_spans(tracer):
            g = calls.call("build_graph_tables", build)
            crashed = calls.call("pagerank", lambda: run(g, resume=False))
            committed = None

            def check_crash():
                nonlocal committed
                res, _ = crashed
                _require(
                    not res.converged and res.iterations == CRASH_AFTER,
                    f"interrupted run: {res.iterations} iterations, "
                    f"converged={res.converged}",
                )
                committed = ParquetCheckpointer(self.ckpt_dir, "pagerank").latest()
                _require(
                    committed is not None and committed.iteration == CRASH_AFTER - 1,
                    "no committed checkpoint at the crash iteration",
                )

            calls.check("pagerank", check_crash)
            resumed = calls.call("pagerank(resume=True)", lambda: run(g, resume=True))

        def check_resume():
            res, ranks = resumed
            _require(res.converged, "resumed pagerank did not converge")
            _require(
                res.metrics[0]["i"] == committed.iteration + 1,
                f"resume started at iteration {res.metrics[0]['i']}, "
                f"not after checkpoint {committed.iteration}",
            )
            _check_ranks(ranks.select("url", "x").toPandas(), self.expected)

        calls.check("pagerank(resume=True)", check_resume)
        if g is not None:
            g.unpersist()
        return rep


def _committed_bytes(span, args, kwargs, info) -> None:
    span.attrs["bytes"] = sum(
        os.path.getsize(os.path.join(info.path, f)) for f in os.listdir(info.path)
    )


@contextlib.contextmanager
def _checkpoint_spans(tracer: Tracer):
    """Time ParquetCheckpointer.write/read (traced runs only)."""
    with tracer.patched(
        ParquetCheckpointer, "write", "io.checkpoint.write", _committed_bytes
    ), tracer.patched(ParquetCheckpointer, "read", "io.checkpoint.read"):
        yield


WORKLOADS = {w.name: w for w in (PagesPagerankRef, PagerankCkptResume)}

