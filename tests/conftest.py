from __future__ import annotations

import contextlib
import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from pagerankproject_spark.session import get_spark  # noqa: E402


def _driver_memory_conf() -> dict[str, str]:
    """Heap for the in-process test JVM when SPARK_DRIVER_MEMORY is
    unset: ~3/8 of physical RAM, at most the engine's 16g default. A
    16g heap lets a full run grow the JVM past a 16 GB box's memory;
    6g holds there."""
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        return {}
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return {"spark.driver.memory": f"{min(16 << 10, ram * 3 // 8 >> 20)}m"}


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf=_driver_memory_conf(),
    )
    yield s
    s.stop()


def edges_df(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


@contextlib.contextmanager
def forced_distributed():
    """Every graph loop takes its distributed Spark path: the shared
    driver-local threshold (graph/local.py) drops to 0 edges."""
    from pagerankproject_spark.graph import local

    with pytest.MonkeyPatch.context() as m:
        m.setattr(local, "LOCAL_SPMV_MAX_EDGES", 0)
        yield


@pytest.fixture
def distributed():
    """The test body runs under `forced_distributed()`."""
    with forced_distributed():
        yield


def on_both_paths(call, frame):
    """Runs `call()` on the driver-local path, then again forced onto
    the distributed loop, and asserts both give identical output rows
    (`frame(result)`), iterations, per-round `changed` and `converged`.
    Returns the local result."""
    loc = call()
    with forced_distributed():
        dist = call()
    assert {m["mode"] for m in loc.metrics} == {"local"}, loc.metrics
    assert "local" not in {m.get("mode") for m in dist.metrics}, dist.metrics
    assert sorted(frame(loc).collect()) == sorted(frame(dist).collect())
    assert loc.iterations == dist.iterations
    assert [m["changed"] for m in loc.metrics] == [
        m["changed"] for m in dist.metrics
    ]
    assert loc.converged == dist.converged
    return loc
