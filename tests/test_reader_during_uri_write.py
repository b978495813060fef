"""r14 probe: readers racing a URI write over the marker fence.

The r11 reader-during-write probe pinned the local glob and explicit-path
scans; r13 moved writes onto fsio's per-scheme commit protocol. This probe
re-runs the race through the URI path — and found a REAL hole on its first
lane: the Spark 4 Python DataSource (``spark.read.format("n5")``) never
routed through the r11 marker guard (it then covered only the glob and
explicit-path scans), so it planned 7 of 8 blocks of a
mid-write dataset and returned them as a SILENT partial snapshot — written
blocks as data, the unwritten cell as legal sparse fill. Fixed by
``refuse_mid_write`` (reader.py, called by the DataSource's planner): the
plan refuses while the write-session marker exists, for local paths via
the OS and URI containers via fsio (which also covers stores the JVM has
no connector for).

The emulated-store lanes race the reader at the exact instants that exist
mid-job on an object store: after the marker PUT but before any block,
between two block PUTs (via the store's AFTER_PUT hook — a reader planning
*inside* the writer's commit), and after marker release.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from n5_dask_spark.sources.n5 import emustore, fsio
from n5_dask_spark.sources.n5.datasource import N5Reader
from n5_dask_spark.sources.n5.emustore import emu_filesystem
from n5_dask_spark.sources.n5.metadata import INCOMPLETE_MARKER


@pytest.fixture
def emu(tmp_path):
    bucket = f"b{os.urandom(4).hex()}"
    root = tmp_path / "store"
    root.mkdir()
    fsio._FS_CACHE[("s3", bucket)] = emu_filesystem(str(root))
    try:
        yield bucket
    finally:
        fsio._FS_CACHE.pop(("s3", bucket), None)
        emustore.BEFORE_PUT_HOOKS.clear()
        emustore.AFTER_PUT_HOOKS.clear()


def _plan(container: str) -> list:
    """Drive the DataSource's driver-side planner directly (partitions()
    is plain Python — no session needed, which is exactly why it must not
    depend on the Hadoop FS for the marker check)."""
    return N5Reader({"path": container, "dataset": "d/s0"}).partitions()


_ATTRS = {
    "dimensions": [16, 16, 8],
    "blockSize": [8, 8, 4],
    "dataType": "uint8",
    "compression": {"type": "raw"},
}


def _stage_emu_dataset(bucket: str, blocks: list[tuple[int, int, int]]) -> str:
    container = f"s3://{bucket}/vol.n5"
    fsio.publish_file(f"{container}/d/s0/attributes.json", json.dumps(_ATTRS).encode())
    payload = np.full((4, 8, 8), 9, np.uint8).tobytes()
    header = (
        (0).to_bytes(2, "big") + (3).to_bytes(2, "big")
        + b"".join(n.to_bytes(4, "big") for n in (8, 8, 4))
    )
    for g in blocks:
        fsio.publish_file(f"{container}/d/s0/{g[0]}/{g[1]}/{g[2]}", header + payload)
    return container


def test_datasource_refuses_mid_write_local(spark, tmp_path):
    """The find, pinned: a local mid-write dataset (marker present, one
    block missing) must refuse the format('n5') plan — pre-fix it returned
    a 7-row partial snapshot."""
    from n5_dask_spark.sources.n5.datasource import register_n5_source
    from n5_dask_spark.sources.n5.writer import temp_container, write_array

    arr = np.full((16, 16, 8), 9, np.uint8)
    c = temp_container("dsmidwrite")
    write_array(spark, arr, c, "d/s0", [8, 8, 4])
    with open(os.path.join(c, "d/s0", INCOMPLETE_MARKER), "w") as f:
        f.write("writer pid 0\n")
    os.unlink(os.path.join(c, "d/s0/1/0/0"))
    register_n5_source(spark)
    reader = spark.read.format("n5").option("path", c).option("dataset", "d/s0")
    with pytest.raises(Exception, match="write-session marker"):
        reader.load().collect()
    # marker cleared (the accept-partial escape hatch) -> plan proceeds
    os.unlink(os.path.join(c, "d/s0", INCOMPLETE_MARKER))
    assert len(reader.load().collect()) == 7  # the partial IS 7 blocks


def test_datasource_refuses_mid_write_on_object_store(emu):
    """Same race on the emulated object store: marker PUT + half the
    blocks is exactly what a reader lists halfway through a sink job."""
    container = _stage_emu_dataset(emu, [(0, 0, 0), (1, 0, 0), (0, 1, 0)])
    fsio.publish_file(f"{container}/d/s0/{INCOMPLETE_MARKER}", b"writer pid 7\n")
    with pytest.raises(ValueError, match="write-session marker"):
        _plan(container)
    # writer finished: marker released -> the plan sees every block
    fsio.delete_file(f"{container}/d/s0/{INCOMPLETE_MARKER}")
    assert len(_plan(container)) == 3


def test_reader_planning_inside_writers_commit_window_refuses(emu):
    """A reader that plans BETWEEN two of the writer's block PUTs (the
    AFTER_PUT hook runs at exactly that instant) must refuse — the marker
    is up for the whole job window, so there is no moment mid-job where a
    plan can slip through to a partial listing."""
    container = _stage_emu_dataset(emu, [])
    fsio.claim_marker_uri(f"{container}/d/s0/{INCOMPLETE_MARKER}")
    outcomes: list[str] = []

    def racing_reader(key, payload):
        if "/d/s0/" in key and INCOMPLETE_MARKER not in key:
            try:
                _plan(container)
                outcomes.append("PARTIAL-SNAPSHOT")
            except ValueError:
                outcomes.append("refused")

    emustore.AFTER_PUT_HOOKS.append(racing_reader)
    for g in ["0/0/0", "1/0/0"]:  # the writer's block PUTs
        fsio.publish_file(f"{container}/d/s0/{g}", b"\x00\x00\x00\x03" + b"x" * 16)
    emustore.AFTER_PUT_HOOKS.clear()
    assert outcomes == ["refused", "refused"], outcomes
    fsio.delete_file(f"{container}/d/s0/{INCOMPLETE_MARKER}")
    assert len(_plan(container)) == 2  # after release the reader proceeds


def test_second_writer_during_uri_write_refused_up_front(emu):
    """Writer-vs-writer over the same window: the fence refuses writer B
    at the claim, before any of B's side effects run."""
    container = _stage_emu_dataset(emu, [(0, 0, 0)])
    marker = f"{container}/d/s0/{INCOMPLETE_MARKER}"
    fsio.claim_marker_uri(marker)
    with pytest.raises(RuntimeError, match="marker .* already exists"):
        fsio.claim_marker_uri(marker)
    fsio.delete_file(marker)


# ---------------------------------------------------------------------------
# ENOSPC on the LOCAL sink path (the emulated-store lane covers the PUT
# branch in test_emu_object_store.py; this is the temp+rename branch —
# together they complete the disk-full probe across both commit protocols)
# ---------------------------------------------------------------------------


def test_local_atomic_write_enospc_leaves_no_partial_block(tmp_path, monkeypatch):
    """Disk-full mid-commit on the local block sink: the write must fail
    LOUDLY and leave neither the target block nor temp litter — a torn
    block would decode as a short read, a stale temp would be litter the
    clean-job invariant forbids."""
    import errno

    from n5_dask_spark.sources.n5.metadata import atomic_publish as _atomic_write

    def full_disk(src, dst):
        raise OSError(errno.ENOSPC, "No space left on device")

    monkeypatch.setattr(os, "replace", full_disk)
    with pytest.raises(OSError, match="No space left"):
        _atomic_write(str(tmp_path / "d/0/0/0"), b"x" * 4096)
    monkeypatch.undo()
    assert not (tmp_path / "d/0/0/0").exists()
    assert not list(tmp_path.rglob(".inprogress-*"))
    # and the retry after space frees lands cleanly
    _atomic_write(str(tmp_path / "d/0/0/0"), b"y" * 16)
    assert (tmp_path / "d/0/0/0").read_bytes() == b"y" * 16


def test_uri_publish_enospc_on_move_cleans_inprogress_temp(tmp_path):
    """Same lane through fsio's rename-capable branch: ENOSPC at the MOVE
    (the temp landed, the promote failed) must clean the inprogress temp
    and leave the target absent. pyarrow's LocalFileSystem is an immutable
    C type, so the failing move is injected via a cache-planted handler
    that reports type_name 'local' (rename branch) and dies on move."""
    import errno

    from pyarrow import fs as pafs

    class _ENOSPCMove(emustore.EmuObjectStoreHandler):
        def get_type_name(self):
            return "local"  # routes publish_file onto the temp+move branch

        def move(self, src, dest):
            raise OSError(errno.ENOSPC, "No space left on device")

    key = ("file", "")
    saved = fsio._FS_CACHE.get(key)
    fsio._FS_CACHE[key] = pafs.PyFileSystem(_ENOSPCMove("/"))
    try:
        with pytest.raises(OSError, match="No space left"):
            fsio.publish_file(f"file:{tmp_path}/d/0/0/0", b"x" * 4096)
    finally:
        if saved is None:
            fsio._FS_CACHE.pop(key, None)
        else:
            fsio._FS_CACHE[key] = saved
    assert not (tmp_path / "d/0/0/0").exists()
    assert not list(tmp_path.rglob(".inprogress-*"))  # temp cleaned on failure
    # and the retry through the REAL local filesystem lands cleanly
    fsio.publish_file(f"file:{tmp_path}/d/0/0/0", b"y" * 16)
    assert (tmp_path / "d/0/0/0").read_bytes() == b"y" * 16
