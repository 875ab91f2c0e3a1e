"""Shared pytest fixtures: one SparkSession per test session."""

from __future__ import annotations

import os
import sys
import tempfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from storm_netmonitor_spark import registry  # noqa: E402
from storm_netmonitor_spark.io import release_scratch  # noqa: E402
from storm_netmonitor_spark.session import get_spark  # noqa: E402

registry.load_all()

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark(app_name="netmonitor-spark-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _nm_entries(tmp: str) -> set[str]:
    """Top-level ``nm_*`` entries in /dev/shm and the temp dir, less the
    artifact store, which persists across processes by design."""
    found = set()
    for root in ("/dev/shm", tmp):
        try:
            found |= {os.path.join(root, n) for n in os.listdir(root) if n.startswith("nm_")}
        except OSError:
            pass
    return found - {os.path.join(tmp, f"nm_artifacts_{os.getuid()}")}


@pytest.fixture(scope="session", autouse=True)
def leaves_no_scratch():
    """The run leaves no new ``nm_*`` entry behind once the scratch owner
    has released what it holds (the same call the exit hook makes)."""
    tmp = tempfile.gettempdir()
    before = _nm_entries(tmp)
    yield
    release_scratch()
    left = sorted(_nm_entries(tmp) - before)
    assert not left, f"{len(left)} nm_* entries left behind: {left[:10]}"
