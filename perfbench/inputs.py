"""Seeded input generators. Pure numpy/pyarrow: nothing here imports the
package under test, so the inputs (and the truths derived from them) are
independent of the code being measured.

The same seed gives byte-identical volumes, region lists, TIFF series and
tables; a different seed gives different ones.
"""

from __future__ import annotations

import os
import struct

import numpy as np

# ---------------------------------------------------------------------------
# Relational tables for the registry and catalog layer probe: the ten-table
# schema of the repository's testdata (TPC-H-like star schema plus events,
# documents and embeddings), with the same value domains, at a chosen scale.
# ---------------------------------------------------------------------------

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["blue", "hot", "large", "red", "small", "green", "ring", "bolt", "gear", "nut"]


def table_rows(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (sf0.1 = 600k lineitems)."""
    k = sf / 0.1
    return {
        "region": 5,
        "nation": 25,
        "customer": max(50, int(15000 * k)),
        "supplier": max(10, int(1000 * k)),
        "part": max(50, int(20000 * k)),
        "orders": max(100, int(150000 * k)),
        "lineitem": max(400, int(600000 * k)),
        "events": max(100, int(100000 * k)),
        "documents": max(50, int(5000 * k)),
        "embeddings": max(100, int(2000 * k)),
    }


def _days(rng, n, lo: str, hi: str) -> np.ndarray:
    d0 = np.datetime64(lo, "D")
    span = int((np.datetime64(hi, "D") - d0).astype(int))
    return (d0 + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _documents(rng, n: int) -> list[str]:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.choice(WORDS, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    return texts


def make_tables(seed: int, sf: float) -> dict[str, "pa.Table"]:  # noqa: F821
    import pyarrow as pa

    rng = np.random.default_rng([seed, 1])
    n = table_rows(sf)
    money = lambda lo, hi, m: np.round(rng.uniform(lo, hi, m), 2)  # noqa: E731
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, ns),
    })
    npart = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_WORDS[:6], npart), rng.choice(PART_WORDS[6:], npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": money(1000.0, 500000.0, no),
        "o_orderdate": pa.array(_days(rng, no, "1995-01-01", "2001-08-01"), pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, no),
    })
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype("f8")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": pa.array(_days(rng, nl, "1995-01-02", "2001-11-04"), pa.timestamp("us")),
    })
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, min(nc, 1500), ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts = _documents(rng, nd)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    nv = n["embeddings"]
    vec = rng.normal(0.0, 1.0, (nv, 64)).astype("f4")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    return t


def write_tables(tables: dict, out_dir: str) -> None:
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Microscopy-like uint16 volume
# ---------------------------------------------------------------------------


SPECIMEN_RADIUS = 1.08  # of the half-extent of each axis


def make_volume(seed: int, shape_zyx: tuple[int, int, int], n_cells: int = 60) -> np.ndarray:
    """A (z, y, x) uint16 volume that looks like a cleared-tissue scan: an
    ellipsoidal specimen (zero padding outside, as after registration),
    camera offset plus smooth illumination inside, Gaussian nuclei, and
    Poisson shot noise. The specimen's outline is the same for every seed,
    so the share of zero padding, which sets how well blocks compress,
    does not vary from run to run."""
    rng = np.random.default_rng([seed, 2])
    z, y, x = shape_zyx
    zz, yy, xx = np.meshgrid(
        np.linspace(-1, 1, z), np.linspace(-1, 1, y), np.linspace(-1, 1, x), indexing="ij"
    )
    inside = zz**2 + yy**2 + xx**2 <= SPECIMEN_RADIUS**2
    lam = np.zeros(shape_zyx, dtype="f8")
    illum = 1.0
    for _ in range(3):
        k = rng.uniform(0.5, 2.0, 3)
        ph = rng.uniform(0, 2 * np.pi, 3)
        illum = illum + 0.15 * np.cos(np.pi * k[0] * zz + ph[0]) * np.cos(
            np.pi * k[1] * yy + ph[1]
        ) * np.cos(np.pi * k[2] * xx + ph[2])
    lam += 100.0 + 150.0 * illum
    for _ in range(n_cells):
        c = rng.uniform(0, 1, 3) * np.array(shape_zyx)
        r = rng.uniform(2.5, 6.0)
        amp = rng.uniform(400.0, 3000.0)
        lo = np.maximum(0, (c - 3 * r).astype(int))
        hi = np.minimum(shape_zyx, (c + 3 * r).astype(int) + 1)
        sl = tuple(slice(a, b) for a, b in zip(lo, hi))
        g = np.ogrid[sl]
        d2 = sum((gi - ci) ** 2 for gi, ci in zip(g, c))
        lam[sl] += amp * np.exp(-d2 / (2 * r * r))
    vol = rng.poisson(lam).astype(np.uint16)
    vol[~inside] = 0
    return vol


def make_regions(
    seed: int, dims_xyz: list[int], block_xyz: list[int], n: int
) -> list[tuple[list[int], list[int]]]:
    """``n`` half-open (start_xyz, end_xyz) regions. Region ``i`` has a fixed
    edge length (log-spaced from a quarter block to three blocks) and a
    fixed offset inside its first block, so it always overlaps the same
    number of blocks; the seed picks which block it starts in."""
    rng = np.random.default_rng([seed, 3])
    out = []
    for i in range(n):
        frac = (i + 0.5) / n
        start, end = [], []
        for b, d in zip(block_xyz, dims_xyz):
            lo, hi = np.log(max(1, b // 4)), np.log(min(d, 3 * b))
            edge = int(round(np.exp(lo + frac * (hi - lo))))
            off = (b // 4) * (i % 3)
            first = int(rng.integers(0, max(1, (d - off - edge) // b + 1)))
            s = min(first * b + off, d - edge)
            start.append(s)
            end.append(s + edge)
        out.append((start, end))
    return out


# ---------------------------------------------------------------------------
# Minimal baseline TIFF (uncompressed, little-endian, single strip)
# ---------------------------------------------------------------------------

_TAGS = {256: "w", 257: "h", 258: "bits", 259: "comp", 273: "off", 339: "fmt"}


def encode_tiff_u16(arr: np.ndarray) -> bytes:
    h, w = arr.shape
    data = np.ascontiguousarray(arr, dtype="<u2").tobytes()
    ifd = 8 + len(data)
    entries = [(256, 3, w), (257, 3, h), (258, 3, 16), (259, 3, 1), (262, 3, 1),
               (273, 4, 8), (277, 3, 1), (278, 3, h), (279, 4, len(data)), (339, 3, 1)]
    out = struct.pack("<2sHI", b"II", 42, ifd) + data + struct.pack("<H", len(entries))
    for tag, typ, val in entries:
        out += struct.pack("<HHII", tag, typ, 1, val)
    return out + struct.pack("<I", 0)


def decode_tiff_u16(buf: bytes) -> np.ndarray:
    """Read an uncompressed single-strip 16-bit little-endian TIFF page."""
    if buf[:4] != b"II*\x00":
        raise ValueError("not a little-endian TIFF")
    (ifd,) = struct.unpack_from("<I", buf, 4)
    (n,) = struct.unpack_from("<H", buf, ifd)
    tags = {}
    for i in range(n):
        tag, typ, _count, val = struct.unpack_from("<HHII", buf, ifd + 2 + 12 * i)
        if typ == 3:
            val &= 0xFFFF
        if tag in _TAGS:
            tags[_TAGS[tag]] = val
    if tags.get("comp", 1) != 1 or tags.get("bits") != 16 or tags.get("fmt", 1) != 1:
        raise ValueError(f"unsupported TIFF page {tags}")
    data = np.frombuffer(buf, dtype="<u2", count=tags["w"] * tags["h"], offset=tags["off"])
    return data.reshape(tags["h"], tags["w"]).astype(np.uint16)


def write_tiff_series(vol_zyx: np.ndarray, out_dir: str, prefix: str = "slice") -> None:
    os.makedirs(out_dir, exist_ok=True)
    for z in range(vol_zyx.shape[0]):
        with open(os.path.join(out_dir, f"{prefix}{z:05d}.tif"), "wb") as f:
            f.write(encode_tiff_u16(vol_zyx[z]))

