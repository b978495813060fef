"""N5 container/dataset metadata (attributes.json) handling.

Reimplements the semantics the reference gets from zarr + its own helpers —
including a QUIRK-FREE version of `_get_pixel_resolution`
(/root/reference/src/n5_multiscale.py:37-60 reads the unit from
`pixel_res_attr.get('dimensions')` instead of `'unit'` and leaves
`pixel_res_values` unbound for non-dict/list attrs; documented in
SURVEY.md §1.4 — we fix both, we don't replicate them).

All metadata is x,y,z ordered on disk (`dimensions`, `blockSize`), matching
the fixture /root/reference/data/test.n5/mri/c0/s0/attributes.json.
"""

from __future__ import annotations

import json
import logging
import math
import os
from dataclasses import dataclass, field
from typing import Any

N5_VERSION = "2.5.1"
DEFAULT_PIXEL_RES_UNIT = "pixel"

log = logging.getLogger(__name__)
# write-session marker claims, releases and refusals (writer, fsio, tiff)
fence_log = logging.getLogger("n5_dask_spark.sources.n5.fence")


@dataclass
class DatasetAttributes:
    data_type: str
    dimensions: list[int]  # x, y, z (fastest first), as stored on disk
    block_size: list[int]  # x, y, z
    compression: dict[str, Any] = field(default_factory=lambda: {"type": "raw"})
    extra: dict[str, Any] = field(default_factory=dict)  # pixelResolution etc.

    @property
    def ndim(self) -> int:
        return len(self.dimensions)

    @property
    def grid_shape(self) -> list[int]:
        """Blocks per dimension, x,y,z order."""
        return [math.ceil(d / b) for d, b in zip(self.dimensions, self.block_size)]

    @property
    def n_blocks(self) -> int:
        return int(math.prod(self.grid_shape))

    def block_dims(self, grid_pos: tuple[int, ...]) -> list[int]:
        """Actual (possibly truncated) dims of the block at grid_pos (x,y,z
        order both in and out). Edge blocks truncate, never pad."""
        return [
            min(b, d - g * b)
            for g, d, b in zip(grid_pos, self.dimensions, self.block_size)
        ]

    def to_json(self) -> dict[str, Any]:
        out = {
            "dataType": self.data_type,
            "dimensions": list(self.dimensions),
            "blockSize": list(self.block_size),
            "compression": dict(self.compression),
        }
        out.update(self.extra)
        return out

    @classmethod
    def from_json(cls, obj: dict[str, Any]) -> "DatasetAttributes":
        extra = {
            k: v
            for k, v in obj.items()
            if k not in ("dataType", "dimensions", "blockSize", "compression")
        }
        dims = list(obj["dimensions"])
        block = list(obj["blockSize"])
        if len(block) != len(dims):
            raise ValueError(
                f"attributes.json dimensions ({len(dims)}-d) and blockSize "
                f"({len(block)}-d) disagree"
            )
        # The engine's blocks schema carries three grid coordinates
        # (gx, gy, gz — reader.py/transforms.py), which covers every layout
        # the reference emits: it splits channels/time into per-channel 3-D
        # datasets c{c}/s{l} (/root/reference/src/ometif_to_n5.py:110-118)
        # rather than writing 4-D arrays. N5 legally allows ndim > 3, so a
        # foreign container must be refused loudly here instead of failing
        # with an obscure coordinate error deep in the scan.
        if len(dims) > 3:
            raise NotImplementedError(
                f"{len(dims)}-dimensional N5 datasets are not supported "
                "(ndim <= 3); split channel/time axes into per-channel "
                "3-D datasets (the reference's c{c}/s{level} layout)"
            )
        # validate dataType EAGERLY (r10 corrupt-metadata probe): an unknown
        # type used to pass attribute parsing and only fail at first decode/
        # encode, far from the metadata that caused it
        from n5_dask_spark.sources.n5.codec import np_dtype

        np_dtype(obj["dataType"])
        return cls(
            data_type=obj["dataType"],
            dimensions=dims,
            block_size=block,
            compression=obj.get("compression", {"type": "raw"}),
            extra=extra,
        )


def attributes_path(container: str, dataset: str = "") -> str:
    return os.path.join(container, dataset, "attributes.json") if dataset else os.path.join(
        container, "attributes.json"
    )


def is_uri(path: str) -> bool:
    """True for scheme-prefixed paths (file:, hdfs://, s3a://, ...)."""
    head = path.split("/", 1)[0]
    return head.endswith(":") and len(head) > 1


def _read_text(path: str) -> str | None:
    """File contents, or None if absent. Local paths read through the OS;
    URI-scheme paths (file:, hdfs:, s3a:, ...) through fsio's pyarrow
    filesystem, the one storage client of the N5 read path: it works on the
    driver, in the format("n5") planner and in executors alike, none of
    which needs a session."""
    if is_uri(path):
        from n5_dask_spark.sources.n5 import fsio

        data = fsio.read_file(path)
        return None if data is None else data.decode("utf-8")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return f.read()


def read_attributes(container: str, dataset: str) -> DatasetAttributes:
    path = attributes_path(container, dataset)
    text = _read_text(path)
    if text is None:
        raise FileNotFoundError(path)
    try:
        obj = json.loads(text)
    except json.JSONDecodeError as e:
        # name the FILE: a bare JSONDecodeError gives a fleet operator
        # nothing to act on (r10 corrupt-metadata probe)
        raise ValueError(f"corrupt attributes.json at {path}: {e}") from e
    return DatasetAttributes.from_json(obj)


def read_raw_attributes(container: str, dataset: str = "") -> dict[str, Any]:
    path = attributes_path(container, dataset)
    text = _read_text(path)
    if text is None:
        return {}
    try:
        return json.loads(text)
    except json.JSONDecodeError as e:
        raise ValueError(f"corrupt attributes.json at {path}: {e}") from e


# Write-session marker (r11 reader-during-write probe): present in a
# dataset directory exactly while a sink job is writing it, or forever
# after a writer died mid-job. Dot-named: invisible to Spark's hidden-file
# filter and to the numeric-path block scan, so it can never be read as
# data. Claimed/released by writer.write_blocks and the n5 DataSource
# sink; refused by the reader's scan audit.
INCOMPLETE_MARKER = ".n5ds-incomplete"


def current_umask() -> int:
    """The process umask (no read-only accessor exists; set-and-restore)."""
    u = os.umask(0)
    os.umask(u)
    return u


def atomic_publish(path: str, payload: bytes) -> None:
    """Publish one file whole: the one atomic write of every N5 and TIFF
    sink (block files, attributes.json, TIFF slices, staged fixtures).

    A local path is written to a ``.inprogress-`` temp file in the same
    directory (created if absent), given the umask-governed mode (mkstemp
    creates 0600, which locks group/other readers out of a shared
    container), and renamed over ``path`` with ``os.replace``; the temp is
    removed if anything fails. Readers see the old complete file or the
    new complete file, never a prefix, and a retried task or a racing
    writer of the same path makes a full overwrite, never an interleave.
    A URI path goes to ``fsio.publish_file``, the per-scheme form of the
    same promise (temp + move where rename is atomic, one PUT where the
    object is)."""
    import tempfile

    if is_uri(path):
        from n5_dask_spark.sources.n5 import fsio

        fsio.publish_file(path, payload)
        return
    parent = os.path.dirname(path)
    os.makedirs(parent, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=parent, prefix=".inprogress-")
    try:
        with os.fdopen(fd, "wb") as f:
            os.fchmod(f.fileno(), 0o666 & ~current_umask())
            f.write(payload)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def log_codec(action: str, container: str, dataset: str, attrs: DatasetAttributes) -> None:
    """DEBUG record naming the codec a dataset is read or written with."""
    if log.isEnabledFor(logging.DEBUG):
        log.debug("%s %s/%s with codec %s", action, container, dataset, attrs.compression)


def write_attributes(container: str, dataset: str, attrs: DatasetAttributes) -> None:
    """Write the dataset's attributes.json, and the container's root one if
    it has none. :func:`atomic_publish` creates the directories, and its
    rename keeps a concurrent reader (a pyramid stage, a monitor, a racing
    retry) from parsing an empty or torn file, as a truncating open("w")
    let it."""
    log_codec("write", container, dataset, attrs)
    root = attributes_path(container)
    if _read_text(root) is None:
        atomic_publish(root, json.dumps({"n5": N5_VERSION}).encode())
    atomic_publish(attributes_path(container, dataset), json.dumps(attrs.to_json()).encode())


def update_raw_attributes(container: str, dataset: str, updates: dict[str, Any]) -> None:
    obj = read_raw_attributes(container, dataset)
    obj.update(updates)
    atomic_publish(attributes_path(container, dataset), json.dumps(obj).encode())


def get_pixel_resolution(
    attrs: dict[str, Any],
    default_values: list[float] | None = None,
    default_unit: str = DEFAULT_PIXEL_RES_UNIT,
    ndim: int = 3,
) -> tuple[list[float], str]:
    """-> (per-axis resolution values, unit).

    Accepts the dict form {"unit": ..., "dimensions": [...]}, the bare list
    form, or nothing (falls back to defaults). Unlike the reference
    (src/n5_multiscale.py:42), the unit comes from 'unit' and every branch
    binds the values.
    """
    pr = attrs.get("pixelResolution")
    if isinstance(pr, dict):
        values = [float(v) for v in pr.get("dimensions", default_values or [1.0] * ndim)]
        unit = str(pr.get("unit", default_unit))
    elif isinstance(pr, (list, tuple)):
        values = [float(v) for v in pr]
        unit = default_unit
    else:
        values = [float(v) for v in (default_values or [1.0] * ndim)]
        unit = default_unit
    return values, unit


def scaled_pixel_resolution(
    values: list[float], unit: str, downsampling_factors: list[float]
) -> dict[str, Any]:
    """pixelResolution attr for a downsampled level (reference scales by the
    cumulative factors, src/n5_multiscale.py:48-50)."""
    return {
        "unit": unit,
        "dimensions": [v * f for v, f in zip(values, downsampling_factors)],
    }
