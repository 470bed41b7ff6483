"""Tests for the benchmark's own code.

    python3 -m pytest perfbench/test_perfbench.py -q

The tiny-scale runs start one Spark session each (about a minute apiece
on 4 cores).
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
INPUT_TABLE = {"pages_pagerank_ref": "pages", "pagerank_ckpt_resume": "edges"}


def _table_files(out: str, workload: str) -> list[str]:
    d = os.path.join(out, INPUT_TABLE[workload])
    return [os.path.join(d, f) for f in sorted(os.listdir(d))]


@pytest.mark.parametrize("workload", sorted(gen.SIZES))
def test_generator_bytes_depend_only_on_seed(workload, tmp_path):
    a, b, c = (str(tmp_path / k) for k in "abc")
    gen.generate(workload, 7, "tiny", a)
    gen.generate(workload, 7, "tiny", b)
    gen.generate(workload, 8, "tiny", c)
    same = _table_files(a, workload)
    assert [os.path.basename(f) for f in same] == [
        os.path.basename(f) for f in _table_files(b, workload)
    ]
    assert all(
        filecmp.cmp(f, g, shallow=False)
        for f, g in zip(same, _table_files(b, workload))
    )
    assert not all(
        filecmp.cmp(f, g, shallow=False)
        for f, g in zip(same, _table_files(c, workload))
    )


def test_metric_names_and_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == run.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} == set(gen.SIZES)
    for name in [*e2e, *layers, *gen.SIZES]:
        assert NAME.fullmatch(name), name


@pytest.mark.parametrize("workload", sorted(gen.SIZES))
def test_tiny_run_passes_its_checks(workload):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "0", "--trace", "1", "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, proc.stderr[-3000:]
    assert result["attempted"] >= 2
    assert set(result["metrics"]) == set(run.PER_LAYER)
    coverage = result["metrics"]["tracing.span_coverage"]["value"]
    assert 0.9 <= coverage <= 1.0
