"""Minimal baseline TIFF codec (pure numpy + struct) and the TIFF <-> N5
pipelines (SURVEY.md §2.A S1 tif-series scan, K1 volume sink, K3 single-block
tif sink, K4 2-D tif-series sink).

No imaging libraries exist in this container, so this implements the subset
of baseline TIFF the pipelines need: single-page, grayscale (1 sample/pixel),
uncompressed, little- or big-endian, strip-based, integer or float samples.
That subset is lossless and self-roundtripping, which is what the reference
workflow (n5 -> tif series -> n5, README.md:17-21) requires. Multi-page/
compressed/RGB TIFFs raise with a clear message.

Pipelines are Spark-first:
- tif_series_to_n5: the driver globs the *.tif series once (slice index
  parsed from the filename — the dask_image.imread analog,
  /root/reference/src/tif_to_n5.py:21) and packs the slices into splits by
  file size; the SAME rechunk used everywhere re-tiles the slices: when a
  super-cell (a run of whole slices as deep as the lcm of 1 and the block
  depth) fits one split, each task reads and decodes its own runs and
  assembles and writes their blocks (the gather, no shuffle), else
  per-slice fragments go through the rechunk shuffle. The reference's
  manual Z-slab loop (src/tif_to_n5.py:31-58) is unnecessary:
  partition-at-a-time execution bounds memory.
- n5_to_tif_series: decoded blocks -> rechunk to one-slice chunks
  ((1, Y, X) like src/n5_to_tif.py:48-50) -> one TIFF per z written by
  the task that assembles it, slice index straight from the gz column (no
  block_info machinery).
"""

from __future__ import annotations

import glob as _glob
import logging
import os
import re
import struct
from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from n5_dask_spark.session import tune_session
from n5_dask_spark.sources.n5 import fuse
from n5_dask_spark.sources.n5.codec import data_type_of, np_dtype
from n5_dask_spark.sources.n5.fuse import BlockPipeline
from n5_dask_spark.sources.n5.metadata import (
    DatasetAttributes,
    atomic_publish,
    read_attributes,
    write_attributes,
)
from n5_dask_spark.sources.n5.transforms import cast_blocks, rechunk
from n5_dask_spark.sources.n5.reader import Scan, decoded_blocks, scan_frame
from n5_dask_spark.sources.n5.writer import write_blocks

# TIFF tag ids
_W, _H, _BITS, _COMP, _PHOTO, _STRIP_OFF, _SPP, _ROWS_PER_STRIP, _STRIP_CNT, _SFMT = (
    256, 257, 258, 259, 262, 273, 277, 278, 279, 339,
)
_DESC = 270  # ImageDescription: OME-TIFF stores its OME-XML here
_SAMPLE_FMT = {"u": 1, "i": 2, "f": 3}
_FMT_KIND = {1: "u", 2: "i", 3: "f"}


def encode_tiff(arr: np.ndarray) -> bytes:
    """2-D array -> little-endian baseline TIFF bytes (single strip)."""
    if arr.ndim != 2:
        raise ValueError("encode_tiff takes a 2-D array")
    kind = arr.dtype.kind
    if kind not in _SAMPLE_FMT:
        raise ValueError(f"unsupported dtype {arr.dtype}")
    data = np.ascontiguousarray(arr.astype(arr.dtype.newbyteorder("<"))).tobytes()
    h, w = arr.shape
    bits = arr.dtype.itemsize * 8
    # header(8) + payload (padded to even: the TIFF spec requires IFDs to
    # begin on a word boundary), IFD after payload
    pad = len(data) % 2
    ifd_offset = 8 + len(data) + pad
    out = bytearray()
    out += struct.pack("<2sHI", b"II", 42, ifd_offset)
    out += data
    out += b"\x00" * pad
    entries = [
        (_W, 3, 1, w),
        (_H, 3, 1, h),
        (_BITS, 3, 1, bits),
        (_COMP, 3, 1, 1),  # none
        (_PHOTO, 3, 1, 1),  # BlackIsZero
        (_STRIP_OFF, 4, 1, 8),
        (_SPP, 3, 1, 1),
        (_ROWS_PER_STRIP, 3, 1, h),
        (_STRIP_CNT, 4, 1, len(data)),
        (_SFMT, 3, 1, _SAMPLE_FMT[kind]),
    ]
    out += struct.pack("<H", len(entries))
    for tag, typ, cnt, val in entries:
        out += struct.pack("<HHII", tag, typ, cnt, val)
    out += struct.pack("<I", 0)  # no next IFD
    return bytes(out)


def _read_tag_value(buf: bytes, endian: str, typ: int, cnt: int, raw: bytes) -> list[int] | None:
    """Integer tag types decode; anything else (ASCII descriptions, RATIONAL
    resolutions, ...) returns None — such tags are metadata the pixel decoder
    never consumes, and real-world writers (ImageJ, tifffile) always emit
    some of them."""
    sizes = {1: 1, 3: 2, 4: 4}
    fmts = {1: "B", 3: "H", 4: "I"}
    if typ not in sizes:
        return None
    total = sizes[typ] * cnt
    if total <= 4:
        data = raw[:total]
    else:
        (off,) = struct.unpack(endian + "I", raw)
        data = buf[off : off + total]
    return list(struct.unpack(f"{endian}{cnt}{fmts[typ]}", data))


def _parse_ifd(buf: bytes, endian: str, ifd_off: int) -> tuple[dict[int, list[int]], int]:
    (n_entries,) = struct.unpack_from(endian + "H", buf, ifd_off)
    tags: dict[int, list[int]] = {}
    for i in range(n_entries):
        tag, typ, cnt = struct.unpack_from(endian + "HHI", buf, ifd_off + 2 + 12 * i)
        raw = buf[ifd_off + 2 + 12 * i + 8 : ifd_off + 2 + 12 * i + 12]
        val = _read_tag_value(buf, endian, typ, cnt, raw)
        if val is not None:
            tags[tag] = val
    (next_ifd,) = struct.unpack_from(endian + "I", buf, ifd_off + 2 + 12 * n_entries)
    return tags, next_ifd


def _decode_page(buf: bytes, endian: str, tags: dict[int, list[int]]) -> np.ndarray:
    if tags.get(_COMP, [1])[0] != 1:
        raise ValueError("compressed TIFF unsupported")
    if tags.get(_SPP, [1])[0] != 1:
        raise ValueError("multi-sample (RGB) TIFF unsupported")
    w, h = tags[_W][0], tags[_H][0]
    bits = tags[_BITS][0]
    kind = _FMT_KIND[tags.get(_SFMT, [1])[0]]
    dt = np.dtype(f"{endian}{kind}{bits // 8}")
    offsets, counts = tags[_STRIP_OFF], tags[_STRIP_CNT]
    payload = b"".join(buf[o : o + c] for o, c in zip(offsets, counts))
    return np.frombuffer(payload, dtype=dt).reshape(h, w).astype(dt.newbyteorder("="))


def tiff_page_offsets(buf: bytes) -> tuple[str, list[int]]:
    """-> (endian, IFD offset per page). Cheap metadata walk, no pixel I/O —
    the driver-side parse that lets executors random-access single pages."""
    order = buf[:2]
    endian = "<" if order == b"II" else ">" if order == b"MM" else None
    if endian is None:
        raise ValueError("not a TIFF file")
    magic, ifd_off = struct.unpack_from(endian + "HI", buf, 2)
    if magic != 42:
        raise ValueError("not a classic TIFF (BigTIFF unsupported)")
    offsets = []
    seen: set[int] = set()
    while ifd_off != 0:
        if ifd_off in seen:  # corrupt next-IFD pointer looping back
            raise ValueError(f"TIFF IFD chain cycles back to offset {ifd_off}")
        seen.add(ifd_off)
        offsets.append(ifd_off)
        _, ifd_off = _parse_ifd(buf, endian, ifd_off)
    return endian, offsets


def decode_tiff_page(buf: bytes, page: int = 0) -> np.ndarray:
    endian, offsets = tiff_page_offsets(buf)
    if page >= len(offsets):
        raise IndexError(f"page {page} out of range ({len(offsets)} pages)")
    tags, _ = _parse_ifd(buf, endian, offsets[page])
    return _decode_page(buf, endian, tags)


# ---------------------------------------------------------------------------
# Seek-based (range-read) access: IFD walk + per-page strip reads without
# loading the file — the path large OME volumes must take.
# ---------------------------------------------------------------------------


def _parse_ifd_file(f, endian: str, ifd_off: int) -> tuple[dict[int, list[int]], int]:
    f.seek(ifd_off)
    (n_entries,) = struct.unpack(endian + "H", f.read(2))
    entries_raw = f.read(12 * n_entries)
    (next_ifd,) = struct.unpack(endian + "I", f.read(4))
    sizes = {1: 1, 3: 2, 4: 4}
    fmts = {1: "B", 3: "H", 4: "I"}
    tags: dict[int, list[int]] = {}
    for i in range(n_entries):
        tag, typ, cnt = struct.unpack_from(endian + "HHI", entries_raw, 12 * i)
        raw = entries_raw[12 * i + 8 : 12 * i + 12]
        if typ not in sizes:
            continue  # metadata tag types the decoder never consumes
        total = sizes[typ] * cnt
        if total <= 4:
            data = raw[:total]
        else:
            (off,) = struct.unpack(endian + "I", raw)
            pos = f.tell()
            f.seek(off)
            data = f.read(total)
            f.seek(pos)
        tags[tag] = list(struct.unpack(f"{endian}{cnt}{fmts[typ]}", data))
    return tags, next_ifd


def tiff_page_offsets_file(path: str) -> tuple[str, list[int]]:
    """Like tiff_page_offsets but via seeks: O(pages) metadata reads, no
    pixel I/O, regardless of file size."""
    with open(path, "rb") as f:
        head = f.read(8)
        order = head[:2]
        endian = "<" if order == b"II" else ">" if order == b"MM" else None
        if endian is None:
            raise ValueError("not a TIFF file")
        magic, ifd_off = struct.unpack_from(endian + "HI", head, 2)
        if magic != 42:
            raise ValueError("not a classic TIFF (BigTIFF unsupported)")
        offsets = []
        seen: set[int] = set()
        while ifd_off != 0:
            if ifd_off in seen:  # corrupt next-IFD pointer looping back
                raise ValueError(f"TIFF IFD chain cycles back to offset {ifd_off}")
            seen.add(ifd_off)
            offsets.append(ifd_off)
            _, ifd_off = _parse_ifd_file(f, endian, ifd_off)
    return endian, offsets


def tiff_probe_file(path: str) -> tuple[tuple[int, int], np.dtype]:
    """(h, w) and native-order dtype of page 0 from header/IFD reads only —
    no pixel I/O. The driver-side dims/dtype probe for series import; a
    whole-file read-and-decode would pull an entire (possibly huge) slice
    into driver memory just to learn its shape."""
    endian, offsets = tiff_page_offsets_file(path)
    with open(path, "rb") as f:
        tags, _ = _parse_ifd_file(f, endian, offsets[0])
    w, h = tags[_W][0], tags[_H][0]
    bits = tags[_BITS][0]
    kind = _FMT_KIND[tags.get(_SFMT, [1])[0]]
    return (h, w), np.dtype(f"{endian}{kind}{bits // 8}").newbyteorder("=")


def decode_tiff_page_file(path: str, ifd_offset: int, endian: str) -> np.ndarray:
    """Decode ONE page by reading only its IFD and strip byte ranges."""
    with open(path, "rb") as f:
        tags, _ = _parse_ifd_file(f, endian, ifd_offset)
        if tags.get(_COMP, [1])[0] != 1:
            raise ValueError("compressed TIFF unsupported")
        if tags.get(_SPP, [1])[0] != 1:
            raise ValueError("multi-sample (RGB) TIFF unsupported")
        w, h = tags[_W][0], tags[_H][0]
        bits = tags[_BITS][0]
        kind = _FMT_KIND[tags.get(_SFMT, [1])[0]]
        dt = np.dtype(f"{endian}{kind}{bits // 8}")
        chunks = []
        for off, cnt in zip(tags[_STRIP_OFF], tags[_STRIP_CNT]):
            f.seek(off)
            chunks.append(f.read(cnt))
    payload = b"".join(chunks)
    return np.frombuffer(payload, dtype=dt).reshape(h, w).astype(dt.newbyteorder("="))


def decode_tiff(buf: bytes) -> np.ndarray:
    """Baseline grayscale TIFF bytes -> 2-D array (single page)."""
    endian, offsets = tiff_page_offsets(buf)
    if len(offsets) != 1:
        raise ValueError("multi-page TIFF: use decode_tiff_page / ome pipeline")
    tags, _ = _parse_ifd(buf, endian, offsets[0])
    return _decode_page(buf, endian, tags)


def encode_tiff_pages(arrs: list[np.ndarray], description: str | None = None) -> bytes:
    """Multi-page little-endian baseline TIFF (one strip per page).

    ``description`` lands in the first page's ImageDescription tag (270) —
    where OME-TIFF stores its OME-XML block."""
    out = bytearray()
    out += struct.pack("<2sH", b"II", 42)
    ifd_ptr_pos = len(out)
    out += b"\x00\x00\x00\x00"  # first IFD offset, patched below
    desc_off = desc_len = 0
    if description is not None:
        desc = description.encode("utf-8") + b"\x00"
        desc_off, desc_len = len(out), len(desc)
        out += desc
        if len(out) % 2:
            out += b"\x00"  # keep offsets word-aligned
    payload_offsets = []
    datas = []
    for arr in arrs:
        if arr.ndim != 2 or arr.dtype.kind not in _SAMPLE_FMT:
            raise ValueError("each page must be a 2-D array of a supported dtype")
        data = np.ascontiguousarray(arr.astype(arr.dtype.newbyteorder("<"))).tobytes()
        payload_offsets.append(len(out))
        out += data
        if len(out) % 2:
            out += b"\x00"  # word-align the next strip/IFD (TIFF spec rule)
        datas.append(data)
    prev_ptr_pos = ifd_ptr_pos
    for page, (arr, data, poff) in enumerate(zip(arrs, datas, payload_offsets)):
        ifd_off = len(out)
        struct.pack_into("<I", out, prev_ptr_pos, ifd_off)
        h, w = arr.shape
        entries = [
            (_W, 3, 1, w),
            (_H, 3, 1, h),
            (_BITS, 3, 1, arr.dtype.itemsize * 8),
            (_COMP, 3, 1, 1),
            (_PHOTO, 3, 1, 1),
            (_STRIP_OFF, 4, 1, poff),
            (_SPP, 3, 1, 1),
            (_ROWS_PER_STRIP, 3, 1, h),
            (_STRIP_CNT, 4, 1, len(data)),
            (_SFMT, 3, 1, _SAMPLE_FMT[arr.dtype.kind]),
        ]
        if page == 0 and description is not None:
            # TIFF rule: values of <= 4 bytes live INLINE in the value field,
            # not behind an offset (readers decode the offset as text otherwise)
            if desc_len <= 4:
                inline = int.from_bytes(
                    out[desc_off : desc_off + desc_len].ljust(4, b"\x00"), "little"
                )
                entries.append((_DESC, 2, desc_len, inline))
            else:
                entries.append((_DESC, 2, desc_len, desc_off))
            entries.sort()  # TIFF requires ascending tag order
        out += struct.pack("<H", len(entries))
        for tag, typ, cnt, val in entries:
            out += struct.pack("<HHII", tag, typ, cnt, val)
        prev_ptr_pos = len(out)
        out += struct.pack("<I", 0)
    return bytes(out)


def read_image_description_file(path: str) -> str | None:
    """ImageDescription (tag 270) of the FIRST page, or None — seek-based,
    no pixel I/O (the OME-XML metadata probe)."""
    with open(path, "rb") as f:
        header = f.read(8)
        endian = {b"II": "<", b"MM": ">"}.get(header[:2])
        if endian is None or struct.unpack_from(endian + "H", header, 2)[0] != 42:
            raise ValueError(f"{path} is not a TIFF")
        (ifd_off,) = struct.unpack_from(endian + "I", header, 4)
        f.seek(ifd_off)
        (n,) = struct.unpack(endian + "H", f.read(2))
        entries_raw = f.read(12 * n)
        for i in range(n):
            tag, typ, cnt = struct.unpack_from(endian + "HHI", entries_raw, 12 * i)
            if tag == _DESC and typ == 2:
                raw = entries_raw[12 * i + 8 : 12 * i + 12]
                if cnt <= 4:
                    data = raw[:cnt]
                else:
                    (off,) = struct.unpack(endian + "I", raw)
                    f.seek(off)
                    data = f.read(cnt)
                return data.rstrip(b"\x00").decode("utf-8", "replace")
    return None


def write_tiff(path: str, arr: np.ndarray) -> None:
    """One TIFF file, published atomically (local or URI path)."""
    atomic_publish(path, encode_tiff(arr))


def read_tiff(path: str) -> np.ndarray:
    with open(path, "rb") as f:
        return decode_tiff(f.read())


# ---------------------------------------------------------------------------
# Pipelines
# ---------------------------------------------------------------------------


def read_slice(path: str) -> bytes:
    """One slice file's bytes, read in the scan kernel that decodes it. A
    slice that vanished after the scan was planned raises naming the path:
    unlike an absent N5 block it is no fill value, its z was assigned by
    the listing."""
    with open(path, "rb") as f:
        return f.read()


def tif_series_scan(spark: SparkSession, input_dir: str) -> Scan:
    """S1: lazy scan of a z-slice TIFF series; ``.to_df()`` gives one (z,
    length, path) row per slice. Slice order = numeric sort of the
    trailing integer in the filename (imread glob semantics, one file per
    z).

    The driver's glob is the only listing: the slices are packed by their
    file sizes into ``datasource.plan_splits`` splits, one task each
    (``reader.scan_frame``; planning starts no Spark job), and a consumer
    maps its kernel over ``Scan.ids`` and reads each slice there through
    ``plan.read`` with :func:`read_slice`."""
    tune_session(spark)
    # Mid-write series refusal (r14 probe, N5-scan parity): the series
    # sink claims this marker for its job window. Scanning a partial
    # series is SILENT WRONG DATA here, not just missing rows — z is
    # assigned by sorted-file position below, so absent slices compact
    # the volume and shift every later slice. The scan's listing is
    # local-glob-based, so a local existence check covers its reach.
    from n5_dask_spark.sources.n5.metadata import INCOMPLETE_MARKER, fence_log

    _marker = os.path.join(input_dir, INCOMPLETE_MARKER)
    if os.path.exists(_marker):
        if fence_log.isEnabledFor(logging.DEBUG):
            fence_log.debug("series scan of %s refused: marker %s", input_dir, _marker)
        raise ValueError(
            f"refusing to scan {input_dir}: write-session marker {_marker} "
            "exists — a series export is mid-job (or died mid-job) on this "
            "directory, and a partial series would not just truncate: z is "
            "assigned by sorted-file position, so the volume would silently "
            "compact. Wait for the writer, or delete the marker to accept "
            "the partial series."
        )
    files = sorted(
        # glob.escape: Python glob treats [ ] * ? in the DIRECTORY part as
        # pattern chars too — an input_dir named "scans[2024]" would match
        # siblings or nothing (r9 hostile-name probe)
        _glob.glob(os.path.join(_glob.escape(input_dir), "*.tif")),
        key=lambda p: int(re.findall(r"(\d+)", os.path.basename(p))[-1])
        if re.findall(r"(\d+)", os.path.basename(p))
        else 0,
    )
    if not files:
        raise FileNotFoundError(f"no *.tif in {input_dir}")
    # Zero-byte-slice integrity guard (r10 corrupt-block probe, same lane
    # as the N5 scan's): a truncated-to-empty slice (torn external writer
    # / partial copy) is refused up front, before any task runs, with the
    # names of every such slice.
    sizes = [os.path.getsize(p) for p in files]
    empties = [p for p, size in zip(files, sizes) if size == 0]
    if empties:
        raise ValueError(
            f"zero-byte .tif slice file(s) in {input_dir}: "
            f"{[os.path.basename(p) for p in empties[:5]]}"
            f"{' ...' if len(empties) > 5 else ''} — an empty file holds no "
            "slice, and importing around it would shift or zero-fill the "
            "volume. Likely a torn writer or partial copy; restore or remove "
            "the affected files."
        )
    return scan_frame(
        spark,
        input_dir,
        [(p, (z,), size) for z, (p, size) in enumerate(zip(files, sizes))],
        ("z",),
        names=[os.path.basename(p) for p in files],
    )


def tif_series_blocks(
    spark: SparkSession, input_dir: str, compression: dict[str, Any] | None = None
) -> tuple[BlockPipeline, DatasetAttributes]:
    """The slice blocks of a z-slice TIFF series: a scan-backed map
    pipeline of one (1, Y, X) block per slice at grid cell (0, 0, z), and
    the attributes of that one-slice grid (``compression`` is stamped on
    them for the sink).

    Each slice is read and decoded in the kernel of the node that consumes
    it, so decoded slice bytes cross the JVM<->Python boundary once, and a
    rechunk over it can gather (``transforms.rechunk``)."""
    scan = tif_series_scan(spark, input_dir)
    plan = scan.plan
    # dims/dtype probe driver-side from the scan's listing (header/IFD
    # reads only, no pixel I/O)
    (probe_h, probe_w), probe_dt = tiff_probe_file(plan.path(0))
    dims_xyz = [probe_w, probe_h, len(plan.sizes)]

    def decode(path: str, key: tuple[int, ...], raw: bytes) -> tuple:
        (z,) = key
        fname = os.path.basename(path)
        try:
            arr = decode_tiff(raw)
        except Exception as e:
            # name the FILE: a long series dying on one corrupt
            # slice must point at it (decode_block_at discipline)
            raise ValueError(
                f"corrupt TIFF slice {fname} (z={z}, "
                f"{len(raw)} bytes): {type(e).__name__}: {e}"
            ) from e
        # every slice must match the probe: a mismatched shape
        # would otherwise be silently clipped/zero-padded by the
        # rechunk kernel, and a same-width dtype reinterpreted
        # bit-for-bit
        if arr.shape != (probe_h, probe_w) or arr.dtype != probe_dt:
            raise ValueError(
                f"slice {fname} (z={z}) is {arr.shape} {arr.dtype}; "
                f"the series probe says ({probe_h}, {probe_w}) {probe_dt} "
                "— all slices of a series must share one shape and dtype"
            )
        return (0, 0, z, arr[None, :, :])  # (1, Y, X)

    slice_attrs = DatasetAttributes(
        data_type=data_type_of(probe_dt),
        dimensions=dims_xyz,
        block_size=[dims_xyz[0], dims_xyz[1], 1],
        compression=compression or {"type": "raw"},
    )
    return fuse.scan_pipeline(scan, read_slice, decode, _slice_cell), slice_attrs


def _slice_cell(key: tuple[int, ...]) -> tuple[int, int, int]:
    """The grid cell of the slice block at z = ``key[0]``."""
    return (0, 0, key[0])


def tif_series_to_n5(
    spark: SparkSession,
    input_dir: str,
    container: str,
    dataset: str,
    block_size: list[int],
    compression: dict[str, Any] | None = None,
    data_type: str | None = None,
) -> DatasetAttributes:
    """S1 + T1 + K1: TIFF series -> N5 volume (reference tif_to_n5.py).

    Each slice is read and decoded into a (1, Y, X) block in the scan
    kernel (:func:`tif_series_blocks`); the rechunk re-tiles to the
    requested block grid (a gather of whole slice runs when a super-cell
    fits one split, else the shuffle); one task writes each block."""
    slice_blocks, slice_attrs = tif_series_blocks(spark, input_dir, compression)
    if data_type and data_type not in ("same", slice_attrs.data_type):
        slice_blocks, slice_attrs = cast_blocks(slice_blocks, slice_attrs, data_type)
    out_blocks, out_attrs = rechunk(slice_blocks, slice_attrs, list(block_size))
    write_blocks(out_blocks, container, dataset, out_attrs)
    return out_attrs


def n5_to_tif_series(
    spark: SparkSession,
    container: str,
    dataset: str,
    output_dir: str,
    prefix: str = "slice",
    dtype_override: str | None = None,
) -> int:
    """K4: N5 volume -> one TIFF per z slice (reference n5_to_tif.py:32-51).

    rechunk to (X, Y, 1) chunks, then a side-effecting per-block sink; the
    slice index is the gz column."""
    attrs = read_attributes(container, dataset)
    blocks = decoded_blocks(spark, container, dataset)
    if dtype_override and dtype_override != "same":
        # reference applies casting='safe' (src/n5_to_tif.py:27-28,43-44)
        if not np.can_cast(np_dtype(attrs.data_type), np_dtype(dtype_override), casting="safe"):
            raise TypeError(f"unsafe cast {attrs.data_type} -> {dtype_override}")
        blocks, attrs = cast_blocks(blocks, attrs, dtype_override)
    return blocks_to_tif_series(spark, blocks, attrs, output_dir, prefix)


def blocks_to_tif_series(
    spark: SparkSession,
    blocks: BlockPipeline | DataFrame,
    attrs: DatasetAttributes,
    output_dir: str,
    prefix: str = "slice",
) -> int:
    """K4 over blocks (a pipeline or a blocks frame) of a volume described
    by ``attrs``: rechunk to (X, Y, 1) chunks and write one TIFF per z
    slice; returns the number of slices written."""
    slice_blocks, slice_attrs = rechunk(
        blocks, attrs, [attrs.dimensions[0], attrs.dimensions[1], 1]
    )
    # Series-level write-session marker (r14 probe — N5-sink parity gap):
    # each slice file is atomic, but the SERIES is not, and a mid-write
    # reader is worse off here than on N5 — re-import assigns z by
    # sorted-file POSITION, and sink tasks land slices in arbitrary order,
    # so a partial series doesn't truncate, it silently COMPACTS and
    # shifts the whole volume. Claim/release per job, same discipline and
    # marker name as the N5 sinks; tif_series_scan refuses while it exists.
    from n5_dask_spark.sources.n5.writer import claim_dataset_write, release_dataset_write

    marker = claim_dataset_write(output_dir, "")
    dt = np_dtype(slice_attrs.data_type)

    def sink_rows(gx: int, gy: int, gz: int, arr: np.ndarray) -> Iterator[tuple]:
        from n5_dask_spark.sources.n5.writer import _maybe_inject_fault

        write_tiff(os.path.join(output_dir, f"{prefix}{int(gz):05d}.tif"), arr[0])
        _maybe_inject_fault()  # chaos hook: this slice is on disk
        yield (int(gz),)

    # the sink fuses INTO the rechunk's last Python node (the gather
    # kernel, or the assembler after the shuffle; r15, guide §4): the
    # assembled slice bytes never re-cross the JVM<->Python boundary, and
    # (writer.write_blocks discipline) no second repartition moves slice
    # bytes through an extra exchange purely to rebalance
    written = {
        int(r["gz"])
        for r in fuse.consume_block_rows(
            slice_blocks, dt, sink_rows, ["gz"], "gz int"
        ).collect()
    }
    # Sparse N5 is legal (absent blocks = fill value) and the rechunk
    # emits no row for an all-absent z slab, so those slices get no
    # file above. Leaving gaps would make a re-import COMPACT the series
    # (z is assigned by sorted-file position, reference imread semantics)
    # and silently shift the volume — fill the gaps with zero slices.
    missing = [z for z in range(slice_attrs.dimensions[2]) if z not in written]
    if missing:
        y, x = slice_attrs.dimensions[1], slice_attrs.dimensions[0]

        def zero_sink(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            n = 0
            for pdf in batches:
                for gz in pdf["gz"]:
                    write_tiff(
                        os.path.join(output_dir, f"{prefix}{int(gz):05d}.tif"),
                        np.zeros((y, x), dtype=dt),
                    )
                    n += 1
            yield pd.DataFrame({"n": [n]})

        spark.createDataFrame([(z,) for z in missing], "gz int").repartition(
            max(1, min(len(missing), spark.sparkContext.defaultParallelism))
        ).mapInPandas(zero_sink, schema="n long").collect()
    release_dataset_write(marker)  # series complete (gaps filled): visible
    return len(written) + len(missing)


def n5_region_to_tif(
    spark: SparkSession,
    container: str,
    dataset: str,
    output_file: str,
    start_xyz: list[int],
    end_xyz: list[int],
    dtype_override: str | None = None,
) -> None:
    """K3: one TIFF from an xyz region, z collapsed (requires z extent 1 or
    2-D semantics like the reference's single-block export,
    src/n5_to_tif.py:20-29)."""
    from n5_dask_spark.sources.n5.reader import read_region

    reg = read_region(spark, container, dataset, start_xyz, end_xyz)
    if reg.ndim == 3:
        if reg.shape[2] != 1:
            raise ValueError("n5_region_to_tif exports a single z slice (end_z = start_z + 1)")
        reg = reg[:, :, 0]
    if dtype_override and dtype_override != "same":
        if not np.can_cast(reg.dtype, np_dtype(dtype_override), casting="safe"):
            raise TypeError(f"unsafe cast {reg.dtype} -> {dtype_override}")
        reg = reg.astype(np_dtype(dtype_override))
    write_tiff(output_file, reg.T)  # (y, x) raster from xyz region
