from __future__ import annotations

import os
import pathlib
import sys

import pytest

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: heavy stress/characterization lane, skipped in the default "
        "profile; set N5DS_FULL_TESTS=1 to run (round-end ritual)",
    )


def pytest_collection_modifyitems(config, items):
    """Fast default profile (r15, VERDICT r14 item 2): the driver's verify
    step runs `pytest tests/ -x -q` under a wall-clock budget the full
    suite outgrew (r14: truncated at 94% with zero failures). The handful
    of multi-minute stress/characterization lanes below — each a
    whole-registry sweep or a multi-JVM fault drill whose per-change
    signal is covered by faster siblings in the default profile — are
    marked `slow` and SKIPPED (visibly, never deleted) unless
    N5DS_FULL_TESTS=1. The round-end ritual runs the full profile."""
    if os.environ.get("N5DS_FULL_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="slow lane; set N5DS_FULL_TESTS=1 for the full profile"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


def pytest_terminal_summary(terminalreporter):
    """Name the slow lanes this run skipped, so a round-end run made
    without N5DS_FULL_TESTS=1 shows in its output."""
    skipped = [
        r for r in terminalreporter.stats.get("skipped", []) if "slow" in r.keywords
    ]
    if skipped:
        terminalreporter.write_sep(
            "=", f"{len(skipped)} slow lanes skipped: set N5DS_FULL_TESTS=1 to run them"
        )


@pytest.fixture(scope="session")
def spark():
    from n5_dask_spark.session import get_spark

    s = get_spark("n5_dask_spark-tests", cpus=8)
    yield s
    s.stop()


def _testdata_snapshot() -> dict[str, tuple[int, int]]:
    """(size, mtime_ns) of every file under the base testdata SF dirs."""
    import os

    snap: dict[str, tuple[int, int]] = {}
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        root = f"/root/testdata/{sf}"
        for dirpath, _dirs, files in os.walk(root):
            for fn in files:
                p = os.path.join(dirpath, fn)
                st = os.stat(p)
                snap[p] = (st.st_size, st.st_mtime_ns)
    return snap


@pytest.fixture(scope="session", autouse=True)
def sf_dir_immutable_guard():
    """Pin the catalog plan-cache contract (r15): the suite executes every
    registered query (oracle-parity sweep), and NONE of them may mutate
    the base testdata sf_dirs — the load_table DataFrame cache freezes the
    parquet file listing at first load, so a query writing into its sf_dir
    would serve stale listings to every later query in the session. All
    legitimate writes go to tempdirs / .testdata staging copies."""
    before = _testdata_snapshot()
    yield
    after = _testdata_snapshot()
    assert after == before, (
        "a test or registered query mutated /root/testdata: "
        + str(sorted(set(before.items()) ^ set(after.items()))[:5])
    )


def snappy_varint(n: int) -> bytes:
    """Little-endian base-128 varint (the snappy raw-stream preamble).
    Shared by the snappy test-stream builders in test_n5 / test_properties."""
    out = b""
    while True:
        b, n = n & 0x7F, n >> 7
        out += bytes([b | (0x80 if n else 0)])
        if not n:
            return out
