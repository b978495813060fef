"""Benchmark-side kernels: the DataSource stats UDF and the single-thread
codec and TIFF rate loops. Imported by Python workers, so it depends on
numpy and pandas only at import time."""

from __future__ import annotations

import itertools
import time
from collections.abc import Iterator

import numpy as np
import pandas as pd

STATS_DDL = "gx int, gy int, gz int, n_elems long, vmin double, vmax double, vsum double"
STATS_COLS = ["gx", "gy", "gz", "n_elems", "vmin", "vmax", "vsum"]


def datasource_block_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-block stats over format("n5") rows (native-endian uint16 bytes)."""
    for pdf in batches:
        rows = []
        for gx, gy, gz, data in zip(pdf["gx"], pdf["gy"], pdf["gz"], pdf["data"]):
            a = np.frombuffer(bytes(data), dtype=np.uint16)
            rows.append((gx, gy, gz, a.size, float(a.min()), float(a.max()), float(a.sum(dtype="f8"))))
        yield pd.DataFrame(rows, columns=STATS_COLS)


def _rate(fn, nbytes: int, min_s: float) -> tuple[float, int]:
    """(MiB/s, calls) of ``fn`` repeated for at least ``min_s`` seconds."""
    calls, t0 = 0, time.perf_counter()
    while True:
        fn()
        calls += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return calls * nbytes / 2**20 / dt, calls


def codec_rates(blocks: list[np.ndarray], codecs: dict[str, dict], min_s: float) -> dict[str, float]:
    """Single-thread encode_block / decode_block rates per codec. Each rate
    loop cycles through ``blocks``; the MiB moved are computed from the
    block geometry (calls x block bytes)."""
    from n5_dask_spark.sources.n5.codec import decode_block, encode_block

    out: dict[str, float] = {}
    decoded = encoded = 0.0
    nbytes = blocks[0].nbytes
    for name, comp in codecs.items():
        enc = [encode_block(b, "uint16", comp) for b in blocks]
        for raw, b in zip(enc, blocks):
            if not np.array_equal(decode_block(raw, "uint16", comp), b):
                raise ValueError(f"{name} block does not round-trip")
        raw_it, enc_it = itertools.cycle(blocks), itertools.cycle(enc)
        rate, calls = _rate(lambda: encode_block(next(raw_it), "uint16", comp), nbytes, min_s)
        out[f"sources.n5.codec.encode_mb_per_s.{name}"] = rate
        encoded += calls * nbytes / 2**20
        rate, calls = _rate(lambda: decode_block(next(enc_it), "uint16", comp), nbytes, min_s)
        out[f"sources.n5.codec.decode_mb_per_s.{name}"] = rate
        decoded += calls * nbytes / 2**20
    out["sources.n5.codec.decoded_mb"] = decoded
    out["sources.n5.codec.encoded_mb"] = encoded
    return out


def tiff_rates(slices: list[np.ndarray], min_s: float) -> dict[str, float]:
    from n5_dask_spark.sources.tiff import decode_tiff, encode_tiff

    bufs = [encode_tiff(s) for s in slices]
    for buf, s in zip(bufs, slices):
        if not np.array_equal(decode_tiff(buf), s):
            raise ValueError("TIFF slice does not round-trip")
    nbytes = slices[0].nbytes
    slice_it, buf_it = itertools.cycle(slices), itertools.cycle(bufs)
    enc, _ = _rate(lambda: encode_tiff(next(slice_it)), nbytes, min_s)
    dec, _ = _rate(lambda: decode_tiff(next(buf_it)), nbytes, min_s)
    return {"sources.tiff.encode_mb_per_s": enc, "sources.tiff.decode_mb_per_s": dec}
