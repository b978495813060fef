"""Multichannel (OME-style) TIFF -> per-channel N5 datasets
(SURVEY.md §2.A S3 block-random-access scan + T6 channel split; reference
/root/reference/src/ometif_to_n5.py).

Shape of the computation (mirrors the reference's design, re-expressed on
DataFrames):
1. Driver-side metadata parse — page count, dimension order, per-page IFD
   offsets via SEEK-based reads (tiff_page_offsets_file; the analog of the
   reference's ome_types parse at src/ometif_to_n5.py:34-74). No pixel I/O
   on the driver, O(pages) small reads regardless of file size.
2. A page-index DataFrame (page, c, z) is the work spine (T11 grid
   enumeration); each executor task opens the file LOCALLY and decodes only
   its assigned pages (the `_get_block_data` random-access pattern,
   src/ometif_to_n5.py:174-182).
3. Per channel: slice-blocks -> the standard rechunk shuffle -> one task per
   output block writes `c{c}/s0` (channel groups as in
   src/ometif_to_n5.py:110-118).

Page order: dim_order 'cz' = page index p -> (c = p // n_z, z = p % n_z);
'zc' = (c = p % n_c, z = p // n_c). The OME-XML block in the first page's
ImageDescription pins this (DimensionOrder: the non-XY axes iterate
fastest-first across pages, so XYCZT means C fastest = our 'zc'); when
n_channels/dim_order aren't supplied they are parsed from it (stdlib
xml.etree — the analog of the reference's ome_types.from_xml at
src/ometif_to_n5.py:69-74), along with PhysicalSize{X,Y,Z} for the
pixelResolution attribute (src/ometif_to_n5.py:69-110).

Scale: the input file is read per-task via local/posix range reads (only
the strips of the assigned pages); at 100 TB input would be many OME-TIFFs
-> one spine DF over (file, page).
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from collections.abc import Iterator
from dataclasses import dataclass
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from n5_dask_spark.session import tune_session
from n5_dask_spark.sources.n5.codec import data_type_of
from n5_dask_spark.sources.n5.fuse import BLOCK_SCHEMA_DDL
from n5_dask_spark.sources.n5.metadata import DatasetAttributes
from n5_dask_spark.sources.n5.transforms import rechunk
from n5_dask_spark.sources.n5.writer import write_blocks
from n5_dask_spark.sources.tiff import (
    decode_tiff_page_file,
    read_image_description_file,
    tiff_page_offsets_file,
)


@dataclass(frozen=True)
class OmeMeta:
    """Dimension + scale metadata from an OME-XML block."""

    size_c: int
    size_z: int
    size_t: int
    dim_order: str  # page iteration: 'cz' (z fastest) or 'zc' (c fastest)
    physical_size_xyz: list[float] | None
    physical_unit: str


def parse_ome_xml(xml: str) -> OmeMeta:
    """Minimal OME-XML reader (stdlib, namespace-agnostic): SizeC/SizeZ/
    SizeT, DimensionOrder and PhysicalSize{X,Y,Z} from the first Pixels
    element — the fields the reference pulls via ome_types
    (src/ometif_to_n5.py:69-74)."""
    root = ET.fromstring(xml)
    pixels = next(
        (el for el in root.iter() if el.tag.rsplit("}", 1)[-1] == "Pixels"), None
    )
    if pixels is None:
        raise ValueError("OME-XML has no Pixels element")
    g = pixels.attrib.get
    size_c, size_z, size_t = int(g("SizeC", 1)), int(g("SizeZ", 1)), int(g("SizeT", 1))
    order = g("DimensionOrder", "XYZCT").upper()
    if "C" not in order or "Z" not in order:
        raise ValueError(f"unsupported DimensionOrder {order!r}")
    # pages iterate the non-XY axes fastest-first: C before Z -> C fastest
    dim_order = "zc" if order.index("C") < order.index("Z") else "cz"
    phys = [g("PhysicalSizeX"), g("PhysicalSizeY"), g("PhysicalSizeZ")]
    physical = [float(v) for v in phys] if all(v is not None for v in phys) else None
    unit = g("PhysicalSizeXUnit", "um")
    return OmeMeta(
        size_c=size_c,
        size_z=size_z,
        size_t=size_t,
        dim_order=dim_order,
        physical_size_xyz=physical,
        physical_unit=unit,
    )


def read_ome_meta(image_path: str) -> OmeMeta:
    """Parse the OME-XML block out of a TIFF's first ImageDescription.

    Raises ValueError for ANY unusable description — including ImageJ-style
    free text that happens to contain '<' (ET.ParseError is a SyntaxError
    subclass, so it must be converted for callers' except ValueError)."""
    desc = read_image_description_file(image_path)
    if not desc or "<" not in desc:
        raise ValueError(
            f"{image_path} has no OME-XML ImageDescription; pass "
            "n_channels/dim_order explicitly"
        )
    try:
        return parse_ome_xml(desc)
    except ET.ParseError as exc:
        raise ValueError(
            f"{image_path} ImageDescription is not parseable OME-XML: {exc}"
        ) from exc


def ome_tif_to_n5(
    spark: SparkSession,
    image_path: str,
    container: str,
    group: str,
    block_size: list[int],
    n_channels: int | None = None,
    dim_order: str | None = None,
    compression: dict[str, Any] | None = None,
    dataset: str = "s0",
) -> list[DatasetAttributes]:
    """Convert a multichannel multi-page TIFF into c{c}/{dataset} N5 volumes.

    ``n_channels``/``dim_order`` default to the OME-XML metadata in the
    file's ImageDescription; pass them explicitly for plain (non-OME)
    multi-page TIFFs."""
    tune_session(spark)
    extra_attrs: dict[str, Any] = {}
    # ALWAYS attempt the OME parse (cheap header read): explicit
    # n_channels/dim_order override the dims, but PhysicalSize metadata
    # must not silently vanish just because the caller passed flags
    try:
        meta = read_ome_meta(image_path)
    except ValueError:
        if n_channels is None:
            raise  # channel count is underivable without the XML
        meta = None  # plain multi-page TIFF: keep the legacy 'cz' default
    if meta is not None:
        # unconditional: the page->(c,z) mapping below has no time axis, so
        # with SizeT>1 ANY cz/zc assignment interleaves channel and time
        # data — explicit n_channels/dim_order args must not bypass this
        if meta.size_t > 1:
            raise ValueError(f"time series unsupported (SizeT={meta.size_t})")
        n_channels = meta.size_c if n_channels is None else n_channels
        dim_order = meta.dim_order if dim_order is None else dim_order
        if meta.physical_size_xyz is not None:
            extra_attrs["pixelResolution"] = {
                "unit": meta.physical_unit,
                "dimensions": meta.physical_size_xyz,
            }
    dim_order = dim_order or "cz"
    # Metadata walk via seeks: O(pages) small reads, NO pixel I/O on the
    # driver regardless of file size.
    endian, offsets = tiff_page_offsets_file(image_path)
    n_pages = len(offsets)
    if not isinstance(n_channels, int) or n_channels < 1:
        raise ValueError(f"n_channels must be a positive int, got {n_channels!r}")
    if n_pages % n_channels:
        raise ValueError(f"{n_pages} pages not divisible by {n_channels} channels")
    if meta is not None:
        # the XML's declared geometry must match the file: a truncated file
        # or a contradicting explicit n_channels would otherwise pass the
        # divisibility check and scramble the page->(c,z) assignment
        declared = meta.size_c * meta.size_z
        if n_pages != declared:
            raise ValueError(
                f"{n_pages} pages but OME-XML declares SizeC={meta.size_c} x "
                f"SizeZ={meta.size_z} = {declared} (truncated or inconsistent file)"
            )
        if n_channels != meta.size_c:
            raise ValueError(
                f"n_channels={n_channels} contradicts the OME-XML SizeC={meta.size_c}"
            )
    n_z = n_pages // n_channels
    first = decode_tiff_page_file(image_path, offsets[0], endian)
    dims_xyz = [first.shape[1], first.shape[0], n_z]
    data_type = data_type_of(first.dtype)

    if dim_order == "cz":
        pages = [(p, offsets[p], p // n_z, p % n_z) for p in range(n_pages)]
    elif dim_order == "zc":
        pages = [(p, offsets[p], p % n_channels, p // n_channels) for p in range(n_pages)]
    else:
        raise ValueError("dim_order must be 'cz' or 'zc'")

    spine = spark.createDataFrame(pages, "page int, ifd long, c int, z int").repartition(
        max(1, spark.sparkContext.defaultParallelism), "page"
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ifd, c, z in zip(pdf["ifd"], pdf["c"], pdf["z"]):
                # range reads: each task touches only its pages' strips
                arr = decode_tiff_page_file(image_path, int(ifd), endian)[None, :, :]
                rows.append((int(c), 0, 0, int(z), list(arr.shape), arr.tobytes()))
            yield pd.DataFrame(rows, columns=["c", "gx", "gy", "gz", "shape_zyx", "data"])

    # decode ONCE (persisted), then fan out per channel — the per-channel
    # rechunk jobs must not re-read and re-decode every page n_channels times
    slice_blocks = spine.mapInPandas(decode, schema="c int, " + BLOCK_SCHEMA_DDL).persist()
    try:
        slice_attrs = DatasetAttributes(
            data_type=data_type,
            dimensions=dims_xyz,
            block_size=[dims_xyz[0], dims_xyz[1], 1],
            compression=compression or {"type": "raw"},
            extra=extra_attrs,
        )
        out = []
        for c in range(n_channels):
            chan = slice_blocks.filter(F.col("c") == c).drop("c")
            blocks, attrs = rechunk(chan, slice_attrs, list(block_size))
            # empty group -> "c{c}/{dataset}", never a leading "/" (which
            # os.path.join would treat as an absolute path)
            ds = "/".join(p for p in (group.strip("/"), f"c{c}", dataset) if p)
            write_blocks(blocks, container, ds, attrs)
            out.append(attrs)
    finally:
        slice_blocks.unpersist()
    return out


def channel_dataset(group: str, c: int, dataset: str = "s0") -> str:
    """T6 channel select: path of one channel's dataset. Mirrors the write
    path's joining rule — an empty group yields 'c{c}/{dataset}' with no
    leading '/' (os.path.join would treat that as an absolute path)."""
    return "/".join(p for p in (group.strip("/"), f"c{c}", dataset) if p)
