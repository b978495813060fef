"""DEBUG records of the N5 layer's decisions: the codec each dataset is
read or written with, and every write-fence claim, release and refusal.
Each test also checks that the logger being on changes no result."""

from __future__ import annotations

import logging
import os

import numpy as np
import pytest

from n5_dask_spark.sources.n5.codec import encode_block
from n5_dask_spark.sources.n5.metadata import (
    INCOMPLETE_MARKER,
    DatasetAttributes,
    write_attributes,
)

N5_LOG = "n5_dask_spark.sources.n5"
CODEC_LOG = "n5_dask_spark.sources.n5.metadata"
FENCE_LOG = "n5_dask_spark.sources.n5.fence"
GZIP = {"type": "gzip", "level": 6}


def _gzip_dataset(container: str) -> DatasetAttributes:
    """A 2-block gzip uint16 dataset ``d`` written without Spark."""
    attrs = DatasetAttributes("uint16", [8, 4, 2], [4, 4, 2], dict(GZIP))
    write_attributes(container, "d", attrs)
    for gx in range(2):
        block = np.full((2, 4, 4), gx + 1, np.uint16)
        path = os.path.join(container, "d", str(gx), "0", "0")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(encode_block(block, "uint16", GZIP))
    return attrs


def _records(caplog, name: str) -> list[str]:
    return [r.getMessage() for r in caplog.records if r.name == name and r.levelno == logging.DEBUG]


def test_codec_is_logged_when_a_dataset_is_written(tmp_path, caplog):
    c = str(tmp_path / "c.n5")
    with caplog.at_level(logging.INFO, logger=N5_LOG):
        _gzip_dataset(c)
    assert caplog.records == []
    with caplog.at_level(logging.DEBUG, logger=N5_LOG):
        write_attributes(c, "e", DatasetAttributes("uint8", [4], [4], {"type": "raw"}))
    assert _records(caplog, CODEC_LOG) == [f"write {c}/e with codec {{'type': 'raw'}}"]


def test_codec_is_logged_when_a_dataset_is_read(spark, tmp_path, caplog):
    from n5_dask_spark.sources.n5.reader import block_stats

    c = str(tmp_path / "c.n5")
    _gzip_dataset(c)
    quiet = sorted(block_stats(spark, c, "d").collect())
    with caplog.at_level(logging.DEBUG, logger=N5_LOG):
        loud = sorted(block_stats(spark, c, "d").collect())
    assert _records(caplog, CODEC_LOG) == [f"read {c}/d with codec {GZIP}"]
    assert loud == quiet and len(loud) == 2


def test_codec_is_in_the_format_n5_plan_record(tmp_path, caplog):
    from n5_dask_spark.sources.n5.datasource import N5Reader

    c = str(tmp_path / "c.n5")
    _gzip_dataset(c)
    with caplog.at_level(logging.DEBUG, logger=N5_LOG):
        N5Reader({"path": c, "dataset": "d"}).partitions()
    (msg,) = _records(caplog, N5_LOG)
    assert msg.endswith(f"codec {GZIP}"), msg


def test_local_claim_refusal_and_release_are_logged(tmp_path, caplog):
    from n5_dask_spark.sources.n5.writer import claim_dataset_write, release_dataset_write

    c = str(tmp_path / "c.n5")
    with caplog.at_level(logging.DEBUG, logger=N5_LOG):
        marker = claim_dataset_write(c, "d")
        with pytest.raises(RuntimeError, match="already exists"):
            claim_dataset_write(c, "d")
        release_dataset_write(marker)
    assert _records(caplog, FENCE_LOG) == [
        f"claimed {marker}",
        f"claim of {marker} refused: marker exists",
        f"released {marker}",
    ]
    assert not os.path.exists(marker)


def test_uri_claim_and_refusal_are_logged(tmp_path, caplog):
    from n5_dask_spark.sources.n5 import fsio

    marker = f"file:{tmp_path}/d/{INCOMPLETE_MARKER}"
    with caplog.at_level(logging.DEBUG, logger=N5_LOG):
        assert fsio.claim_marker_uri(marker) == marker
        with pytest.raises(RuntimeError, match="already exists"):
            fsio.claim_marker_uri(marker)
    claimed, refused = _records(caplog, FENCE_LOG)
    assert claimed == f"claimed {marker}"
    assert refused.startswith(f"claim of {marker} refused: refusing to write"), refused


def test_scan_refusals_are_logged(spark, tmp_path, caplog):
    """The three mid-write refusals: the glob scan, format("n5") and the
    TIFF series scan."""
    from n5_dask_spark.sources.n5.datasource import N5Reader
    from n5_dask_spark.sources.n5.reader import block_stats
    from n5_dask_spark.sources.tiff import tif_series_scan

    c = str(tmp_path / "c.n5")
    _gzip_dataset(c)
    n5_marker = os.path.join(c, "d", INCOMPLETE_MARKER)
    open(n5_marker, "w").close()
    series = tmp_path / "series"
    series.mkdir()
    tif_marker = str(series / INCOMPLETE_MARKER)
    open(tif_marker, "w").close()
    with caplog.at_level(logging.DEBUG, logger=N5_LOG):
        with pytest.raises(ValueError, match="write-session marker"):
            block_stats(spark, c, "d")
        with pytest.raises(ValueError, match="write-session marker"):
            N5Reader({"path": c, "dataset": "d"}).partitions()
        with pytest.raises(ValueError, match="write-session marker"):
            tif_series_scan(spark, str(series))
    assert _records(caplog, FENCE_LOG) == [
        f"scan of {c}/d refused: marker {n5_marker}",
        f"format('n5') scan of {c}/d refused: marker {n5_marker}",
        f"series scan of {series} refused: marker {tif_marker}",
    ]


def test_fusion_fallbacks_are_logged_with_their_reason(spark, tmp_path, caplog):
    """Each materialization logs one record naming why; a fused consumer
    logs none."""
    from n5_dask_spark.sources.n5 import fuse
    from n5_dask_spark.sources.n5.reader import decoded_blocks

    c = str(tmp_path / "c.n5")
    _gzip_dataset(c)

    def sums(gx, gy, gz, a):
        yield (int(gx), int(a.sum()))

    def consume(blocks):
        df = fuse.consume_block_rows(
            blocks, np.dtype("uint16"), sums, ["gx", "vsum"], "gx int, vsum long"
        )
        return sorted(tuple(r) for r in df.collect())

    def logged(build):
        caplog.clear()
        with caplog.at_level(logging.DEBUG, logger=N5_LOG):
            rows = consume(build())
        return rows, _records(caplog, N5_LOG)

    unfused = "blocks frame consumed unfused (materialized rows): "
    quiet = consume(decoded_blocks(spark, c, "d"))
    assert quiet == [(0, 32), (1, 64)]
    # build the scans first: planning logs its own record on this logger
    fused, direct, changed = (decoded_blocks(spark, c, "d") for _ in range(3))
    assert logged(lambda: fused) == (quiet, [])
    assert logged(direct.to_df) == (
        quiet, [
            "blocks pipeline materialized by .to_df()",
            unfused + "the frame came from .to_df()",
        ]
    )
    assert logged(lambda: changed.to_df().filter("gx >= 0")) == (
        quiet, [
            "blocks pipeline materialized by .to_df()",
            unfused + "the frame is not a block pipeline "
            "(a foreign frame, or one changed by a DataFrame op)",
        ]
    )
    persisted = decoded_blocks(spark, c, "d").to_df().persist()
    try:
        assert consume(persisted) == quiet
        fuse.MATERIALIZATIONS.clear()
        assert logged(lambda: persisted) == (quiet, [unfused + "the frame is persisted"])
        assert sum(fuse.MATERIALIZATIONS.values()) == 0  # counted at .to_df()
    finally:
        persisted.unpersist()
