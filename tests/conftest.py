import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_TINY = "/root/testdata/sf0.001"


def _memory_limit_bytes() -> int | None:
    """MemTotal, or the cgroup v2 limit when that is lower; None when
    neither can be read."""
    total = None
    try:
        with open("/proc/meminfo") as f:
            total = int(next(line for line in f if line.startswith("MemTotal")).split()[1]) * 1024
    except (OSError, StopIteration, ValueError):
        pass
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            raw = f.read().strip()
        if raw != "max":
            total = int(raw) if total is None else min(total, int(raw))
    except (OSError, ValueError):
        pass
    return total


def _test_driver_heap() -> str | None:
    """Heap for the one driver JVM the whole suite shares: about 60 % of
    the memory the host gives us, clamped to 6–32 GiB (None when the
    host memory cannot be read). The session's 32g default lets the JVM
    grow past a small host's RAM (it was OOM-killed at 14.5 GB RSS on a
    15 GiB host), and 4g is too small for test_salting_preserves_results
    once earlier modules have run. Hosts below about 10 GiB are not
    supported: the 6g floor is more than 60 % of their memory."""
    limit = _memory_limit_bytes()
    if limit is None:
        return None
    gib = int(limit * 0.6 / 2**30)
    return f"{max(6, min(32, gib))}g"


if "SPARK_GRAFT_DRIVER_MEM" not in os.environ:
    _heap = _test_driver_heap()
    if _heap is not None:
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = _heap


@pytest.fixture(scope="session")
def spark():
    from hope_graph_builder_spark.session import get_spark

    s = get_spark(app="tests", cpus=8)
    yield s
