"""Output checks. Truths come from the generated inputs through numpy and
the small reader below, never through the package under test.
"""

from __future__ import annotations

import gzip
import json
import os
import struct

import numpy as np

# ---------------------------------------------------------------------------
# Array truths
# ---------------------------------------------------------------------------


def block_stats_truth(vol_zyx: np.ndarray, block_xyz: list[int],
                      present: list[tuple[int, int, int]]) -> dict:
    """(gx, gy, gz) -> (n, min, max, sum) for each present block."""
    bx, by, bz = block_xyz
    out = {}
    for gx, gy, gz in present:
        b = vol_zyx[gz * bz:(gz + 1) * bz, gy * by:(gy + 1) * by, gx * bx:(gx + 1) * bx]
        out[(gx, gy, gz)] = (int(b.size), float(b.min()), float(b.max()), float(b.sum(dtype="f8")))
    return out


def stats_match(rows: list[tuple], truth: dict) -> str | None:
    """``rows`` are (gx, gy, gz, n, min, max, sum) tuples."""
    got = {(int(r[0]), int(r[1]), int(r[2])): (int(r[3]), float(r[4]), float(r[5]), float(r[6]))
           for r in rows}
    if len(got) != len(rows):
        return "duplicate block rows"
    if got.keys() != truth.keys():
        return f"blocks {sorted(set(got) ^ set(truth))[:4]} differ"
    for k, want in truth.items():
        if got[k] != want:
            return f"block {k}: {got[k]} != {want}"
    return None


def region_truth(vol_zyx: np.ndarray, start_xyz: list[int], end_xyz: list[int]) -> np.ndarray:
    (x0, y0, z0), (x1, y1, z1) = start_xyz, end_xyz
    return vol_zyx[z0:z1, y0:y1, x0:x1].transpose(2, 1, 0)


def windowed_mean(vol_zyx: np.ndarray, f: int = 2) -> np.ndarray:
    """Mean over f^3 windows; edge windows average the voxels they hold.
    The result is truncated back to the input dtype."""
    out = vol_zyx.astype("f8")
    for ax in range(3):
        n = out.shape[ax]
        idx = np.arange(0, n, f)
        sums = np.add.reduceat(out, idx, axis=ax)
        cnt = np.minimum(f, n - idx).astype("f8")
        shape = [1, 1, 1]
        shape[ax] = len(idx)
        out = sums / cnt.reshape(shape)
    return out.astype(vol_zyx.dtype)


def pyramid_truth(vol_zyx: np.ndarray, thumb_xyz: list[int], f: int = 2) -> list[np.ndarray]:
    """Levels s1, s2, ... until every dimension fits the thumbnail size."""
    levels, cur = [], vol_zyx
    while any(d > t for d, t in zip(cur.shape[::-1], thumb_xyz)):
        cur = windowed_mean(cur, f)
        levels.append(cur)
    return levels


# ---------------------------------------------------------------------------
# Independent N5 reader (raw and gzip blocks) for written datasets
# ---------------------------------------------------------------------------


def read_n5(container: str, dataset: str) -> np.ndarray:
    """Whole dataset as a (z, y, x) array, absent blocks as zeros."""
    ds = os.path.join(container, dataset)
    with open(os.path.join(ds, "attributes.json")) as f:
        attrs = json.load(f)
    dims, bs = attrs["dimensions"], attrs["blockSize"]
    comp = attrs.get("compression", {}).get("type", "raw")
    if comp not in ("raw", "gzip") or attrs["dataType"] != "uint16":
        raise ValueError(f"read_n5 handles raw/gzip uint16, not {comp}/{attrs['dataType']}")
    out = np.zeros(dims[::-1], dtype=np.uint16)
    for gx in range(-(-dims[0] // bs[0])):
        for gy in range(-(-dims[1] // bs[1])):
            for gz in range(-(-dims[2] // bs[2])):
                p = os.path.join(ds, str(gx), str(gy), str(gz))
                if not os.path.exists(p):
                    continue
                with open(p, "rb") as f:
                    raw = f.read()
                mode, nd = struct.unpack_from(">HH", raw, 0)
                bd = struct.unpack_from(f">{nd}i", raw, 4)
                payload = raw[4 + 4 * nd:]
                if comp == "gzip":
                    payload = gzip.decompress(payload)
                blk = np.frombuffer(payload, dtype=">u2").reshape(bd[::-1])
                z0, y0, x0 = gz * bs[2], gy * bs[1], gx * bs[0]
                out[z0:z0 + bd[2], y0:y0 + bd[1], x0:x0 + bd[0]] = blk
    return out


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size
