"""N5 block binary codec — pure numpy + stdlib.

Format (pinned by the reference fixture, decoded byte-for-byte in
SURVEY.md §1.1; the reference itself delegates to zarr.N5Store, e.g.
/root/reference/src/tif_to_n5.py:29, so this is OUR implementation of the
same on-disk format, not a translation):

    uint16 BE  mode        (0 = default, 1 = varlength)
    uint16 BE  ndim
    int32  BE  dims[ndim]  actual block dims, FASTEST-FIRST (x, y, z)
    [uint32 BE num_elements   -- only when mode == 1]
    bytes      payload     compressed; decompressed = elements in x-fastest
                           order, BIG-endian for multi-byte dtypes

Edge blocks are TRUNCATED (dims < blockSize), never padded — fixture block
(128,128,27) for blockSize 128^3, dims [186,226,27].

In-memory convention (matches the zarr/dask view the reference manipulates):
arrays are C-order with axes (z, y, x) — i.e. dims reversed — so
``decode_block(...).shape == header_dims[::-1]`` and a C-order tobytes() of
that array IS the x-fastest payload.

Compression ids: raw, gzip (useZlib:false = gzip member framing,
useZlib:true = raw zlib stream), bz2, xz, lz4 (lz4-java LZ4Block or
numcodecs framing around liblz4 — see lz4.py), blosc (Blosc1 chunks over
blosclz/lz4/snappy/zlib/zstd, byte- and bit-shuffle — see blosc.py), and
zstd (the n5-zstd ecosystem extension: a bare zstd frame per block).
liblz4, libsnappy and libzstd come bundled with pyarrow.
"""

from __future__ import annotations

import bz2 as _bz2
import gzip as _gzip
import lzma as _lzma
import struct
import zlib as _zlib
from typing import Any

import numpy as np

HEADER_MODE_DEFAULT = 0
HEADER_MODE_VARLENGTH = 1

# N5 dataType id -> numpy dtype (big-endian on disk)
N5_DTYPES: dict[str, str] = {
    "uint8": "u1",
    "uint16": "u2",
    "uint32": "u4",
    "uint64": "u8",
    "int8": "i1",
    "int16": "i2",
    "int32": "i4",
    "int64": "i8",
    "float32": "f4",
    "float64": "f8",
}


def np_dtype(data_type: str) -> np.dtype:
    if data_type not in N5_DTYPES:
        raise ValueError(f"unsupported N5 dataType {data_type!r}")
    return np.dtype(N5_DTYPES[data_type])


def data_type_of(dtype: np.dtype) -> str:
    kind = np.dtype(dtype).newbyteorder("=")
    for name, np_id in N5_DTYPES.items():
        if np.dtype(np_id) == kind:
            return name
    raise ValueError(f"dtype {dtype} has no N5 dataType id")


def _compress(payload: bytes, compression: dict[str, Any] | None) -> bytes:
    ctype = (compression or {}).get("type", "raw")
    if ctype == "raw":
        return payload
    if ctype == "gzip":
        level = int((compression or {}).get("level", -1))
        if (compression or {}).get("useZlib", False):
            return _zlib.compress(payload, level if level >= 0 else 6)
        return _gzip.compress(payload, compresslevel=level if level >= 0 else 6, mtime=0)
    if ctype == "bzip2" or ctype == "bz2":
        return _bz2.compress(payload, compresslevel=int((compression or {}).get("blockSize", 9)))
    if ctype == "xz":
        return _lzma.compress(payload, preset=int((compression or {}).get("preset", 6)))
    if ctype == "lz4":
        from n5_dask_spark.sources.n5 import lz4 as _lz4

        return _lz4.frame_compress(
            payload, int((compression or {}).get("blockSize", _lz4.DEFAULT_BLOCK_SIZE))
        )
    if ctype == "blosc":
        from n5_dask_spark.sources.n5 import blosc as _blosc

        c = compression or {}
        return _blosc.compress(
            payload,
            typesize=int(c.get("typesize", 1)),
            cname=str(c.get("cname", "lz4")),
            clevel=int(c.get("clevel", 5)),
            shuffle=int(c.get("shuffle", 1)),
            blocksize=int(c.get("blocksize", 0)),
        )
    if ctype == "zstd":
        # the n5-zstd ecosystem extension: a bare zstd frame as the block
        # payload, {"type":"zstd","level":L} in attributes.json
        import pyarrow as pa

        level = int((compression or {}).get("level", 3))
        return pa.Codec("zstd", compression_level=min(max(level, 1), 22)).compress(
            payload, asbytes=True
        )
    raise ImportError(f"compression {ctype!r} requires external codecs not installed here")


def _decompress(
    payload: bytes, compression: dict[str, Any] | None, expected_size: int | None = None
) -> bytes:
    ctype = (compression or {}).get("type", "raw")
    if ctype == "raw":
        return payload
    if ctype == "gzip":
        if (compression or {}).get("useZlib", False):
            return _zlib.decompress(payload)
        return _gzip.decompress(payload)
    if ctype == "bzip2" or ctype == "bz2":
        return _bz2.decompress(payload)
    if ctype == "xz":
        return _lzma.decompress(payload)
    if ctype == "lz4":
        from n5_dask_spark.sources.n5 import lz4 as _lz4

        return _lz4.frame_decompress(payload)
    if ctype == "blosc":
        from n5_dask_spark.sources.n5 import blosc as _blosc

        return _blosc.decompress(payload)
    if ctype == "zstd":
        import pyarrow as pa

        if expected_size is None:
            # bare zstd frames carry no trustworthy content size for the
            # one-shot API; every block caller knows prod(dims) * itemsize
            raise ValueError("zstd N5 block decode needs the expected payload size")
        try:
            return pa.Codec("zstd").decompress(payload, expected_size, asbytes=True)
        except Exception as exc:  # ArrowInvalid etc -> decoder-total
            raise ValueError(f"corrupt zstd N5 block payload: {exc}") from None
    raise ImportError(f"compression {ctype!r} requires external codecs not installed here")


def decode_header(raw: bytes) -> tuple[int, tuple[int, ...], int]:
    """-> (mode, dims_fastest_first, payload_offset)."""
    mode, ndim = struct.unpack_from(">HH", raw, 0)
    dims = struct.unpack_from(f">{ndim}i", raw, 4)
    offset = 4 + 4 * ndim
    if mode == HEADER_MODE_VARLENGTH:
        offset += 4
    elif mode != HEADER_MODE_DEFAULT:
        raise ValueError(f"unsupported N5 block mode {mode}")
    return mode, dims, offset


def decode_block(raw: bytes, data_type: str, compression: dict[str, Any] | None) -> np.ndarray:
    """Decode one block file -> C-order ndarray with axes REVERSED vs the
    header (header is x-fastest; returned shape is (z, y, x) for 3-D)."""
    mode, dims, offset = decode_header(raw)
    if mode == HEADER_MODE_VARLENGTH:
        # varlength blocks (label multisets) have num_elements != prod(dims);
        # reject explicitly rather than failing the size check below
        raise ValueError("varlength (mode 1) N5 blocks are not supported")
    be = np_dtype(data_type).newbyteorder(">")
    expected = int(np.prod(dims))
    payload = _decompress(raw[offset:], compression, expected_size=expected * be.itemsize)
    arr = np.frombuffer(payload, dtype=be)
    if arr.size != expected:
        raise ValueError(f"payload has {arr.size} elements, header says {expected}")
    return arr.reshape(tuple(reversed(dims))).astype(np_dtype(data_type))


def decode_block_at(
    raw: bytes, data_type: str, compression: dict[str, Any] | None, source: str
) -> np.ndarray:
    """decode_block with the originating file named in any failure.

    A million-block job that dies on one corrupt block must point at the
    FILE — the bare struct/zlib/size errors decode_block raises carry no
    location, which at fleet scale means re-running the whole job under a
    debugger to find one bad object. Every executor-side decode that knows
    its source path goes through here (r10 corrupt-block probe)."""
    try:
        return decode_block(raw, data_type, compression)
    except Exception as e:
        raise ValueError(
            f"corrupt N5 block file {source} ({len(raw)} bytes): "
            f"{type(e).__name__}: {e}"
        ) from e


def encode_block(arr_zyx: np.ndarray, data_type: str, compression: dict[str, Any] | None) -> bytes:
    """Encode a C-order (z, y, x) array into N5 block bytes (mode 0)."""
    dims = tuple(reversed(arr_zyx.shape))  # x-fastest in the header
    be = np_dtype(data_type).newbyteorder(">")
    payload = np.ascontiguousarray(arr_zyx).astype(be).tobytes()
    header = struct.pack(">HH", HEADER_MODE_DEFAULT, arr_zyx.ndim) + struct.pack(
        f">{arr_zyx.ndim}i", *dims
    )
    if (compression or {}).get("type") == "blosc" and int(compression.get("typesize", 1)) <= 1:
        # refine the shuffle width to the element width (what n5-blosc's
        # writer does); typesize is stored in each chunk's own header, so
        # readers never depend on the attributes.json value
        compression = {**compression, "typesize": be.itemsize}
    return header + _compress(payload, compression)
