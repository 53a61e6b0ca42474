import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from unstract_spark.session import get_spark  # noqa: E402

# Long-running soak/e2e tests (measured >= ~6.5 s each; together ~32 of
# the full suite's ~44 minutes) carry the `slow` marker and are excluded
# from the default run by addopts so CI fits its time budget. The list
# is data (one node id per line) rather than 98 scattered decorators.
# Full suite: pytest tests/ -m "slow or not slow". Slow only: -m slow.
_SLOW_FILE = Path(__file__).with_name("slow_tests.txt")
_SLOW_IDS = frozenset(
    line.strip()
    for line in _SLOW_FILE.read_text().splitlines()
    if line.strip() and not line.startswith("#")
)


def pytest_collection_modifyitems(config, items):
    for item in items:
        if f"{item.location[0]}::{item.name}" in _SLOW_IDS or item.nodeid in _SLOW_IDS:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def count_jobs(spark):
    """count_jobs(fn) -> (fn(), number of Spark jobs started while it ran).

    Job ids come from the status store (statusTracker().getJobInfo),
    scanned upward from the newest job without a job group, after the
    listener bus has drained. No job group is needed, so the jobs a
    streaming query runs on its own thread (foreachBatch) are counted,
    and it works with spark.ui.enabled=false."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def last_job_id() -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        i = max(tracker.getJobIdsForGroup(None), default=-1)
        while tracker.getJobInfo(i + 1) is not None:
            i += 1
        return i

    def count(fn):
        start = last_job_id()
        out = fn()
        return out, last_job_id() - start

    return count


@pytest.fixture(scope="session")
def count_forks():
    """count_forks(fn) -> (fn(), processes the machine created while it ran).

    The delta of /proc/stat's `processes`, which counts every fork and
    every new thread on the machine, so a shell-out (one process and one
    reader thread) counts two."""

    def processes() -> int:
        with open("/proc/stat") as f:
            return next(int(line.split()[1]) for line in f if line.startswith("processes "))

    def count(fn):
        start = processes()
        out = fn()
        return out, processes() - start

    return count
