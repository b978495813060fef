"""Scheme-dispatched filesystem primitives for the N5 WRITE path (r13).

The READ surface has been URI-capable since r11 (driver-side metadata via
the Hadoop FileSystem, block scans via Spark's binaryFile source). Writes
stayed local-only because the sinks' temp-file + ``os.replace`` commit
discipline doesn't transfer to object stores. This module lifts that with
a per-scheme commit protocol, chosen by what the target filesystem can
actually promise (reference parity: zarr's N5Store writes wherever fsspec
points it, /root/reference/src/tif_to_n5.py:29):

- **Rename-capable filesystems** (local ``file:``, HDFS): the classic
  temp-key PUT + atomic ``move`` — identical semantics to the os-based
  local path, so retried tasks overwrite and never interleave.
- **Object stores** (s3/s3a, gs, abfs): a single PUT *is* atomic at the
  object level — an object is never observable half-written — so blocks
  go straight to their final keys with no temp+promote copy. The torn
  state an object store CAN expose is a *partial dataset* (some keys PUT,
  some not, job died), and that is exactly the window the dataset-level
  ``.n5ds-incomplete`` write-session marker already fences: readers
  refuse while it exists, and a dead writer leaves it behind loudly.

Executor-side constraint: block writes run in Python workers, which have
no py4j bridge to the driver JVM, so the Hadoop FileSystem used by the
read path is unavailable there. ``pyarrow.fs`` is the executor-reachable
twin (Local/Hadoop/S3/GCS/Azure), and ``FileSystem.from_uri`` dispatches
per path, so one code path serves every scheme. FileSystem instances are
cached per (scheme, authority) per worker — S3 client setup is not free.

Marker exclusivity: on LOCAL filesystems the claim is a true conditional
create (``O_CREAT|O_EXCL`` on the os path — at most one writer ever
proceeds, no race window at all). Object stores (and HDFS through
pyarrow) have no exclusive create, so ``claim_marker_uri`` falls back to
a write-then-read-back fence: PUT a unique writer token, wait a
RANDOMIZED delay, read the key back, wait again, read again, and refuse
unless OUR token survived both reads. This fence is best-effort even on
strongly consistent stores (r13 ADVICE): the interleave A-PUT,
A-read-back, B-PUT, B-read-back lets EACH writer read its own token and
both proceed — read-after-write consistency does not serialize the two
claims. The jittered double read-back shrinks that window from
microseconds (read immediately after PUT) to the full delay span, but
only a conditional write (S3 ``If-None-Match`` PUT, GCS
``ifGenerationMatch=0``) closes it, and pyarrow exposes neither —
documented residual, same class as every non-CAS object-store lock. The
window is per write JOB (one claim per dataset write), not per block.

The emulated object store (``emustore.py``) serves ``s3:`` URIs when
``N5DS_EMU_OBJECT_STORE`` names a backing directory — that is how the
PUT branch and the read-back fence are exercised for real in a container
with no S3 endpoint (r13 verdict item 2).
"""

from __future__ import annotations

import os
import random
import time
import uuid

# pyarrow URI schemes: s3a/s3n are Hadoop spellings of s3; pyarrow's S3
# filesystem speaks the same API/keys, so map them through.
_SCHEME_MAP = {"s3a": "s3", "s3n": "s3"}

# object-level-atomic-PUT stores, by pyarrow FileSystem type_name: no
# temp+move needed (and move would be a non-atomic copy+delete there)
_PUT_ATOMIC_TYPES = {"s3", "gcs", "abfs", "az"}

_FS_CACHE: dict[tuple[str, str], object] = {}


def is_uri(path: str) -> bool:
    """True for scheme-prefixed paths (file:, hdfs://, s3a://, ...)."""
    head = path.split("/", 1)[0]
    return head.endswith(":") and len(head) > 1


def is_emulated(path: str) -> bool:
    """True when this path's scheme is served by the emulated object store
    (emustore.py). Driver-side metadata reads must then come HERE instead
    of the Hadoop FileSystem — the JVM knows nothing about the emulation
    and would try (and fail) to reach a real endpoint."""
    if not is_uri(path) or not os.environ.get("N5DS_EMU_OBJECT_STORE"):
        return False
    scheme = path.split(":", 1)[0]
    return _SCHEME_MAP.get(scheme, scheme) == "s3"


def _resolve(path: str):
    """-> (pyarrow FileSystem, fs-local path) for a URI. The FileSystem is
    cached per worker by (scheme, authority) — building an S3/GCS client
    per block write is not free — and the fs-local path is derived
    directly (bucket stores root at the bucket, host stores at /), which
    matches ``FileSystem.from_uri``'s own path convention."""
    from urllib.parse import unquote, urlparse

    from pyarrow import fs as pafs

    scheme, rest = path.split(":", 1)
    mapped = _SCHEME_MAP.get(scheme)
    if mapped:
        path = f"{mapped}:{rest}"
        scheme = mapped
    u = urlparse(path)
    # bucket stores address keys as "bucket/key"; host/local stores as the
    # plain absolute path (from_uri convention, pinned in tests)
    if scheme in ("s3", "gs", "gcs"):
        p = f"{u.netloc}{unquote(u.path)}"
    else:
        p = unquote(u.path)
    emu = os.environ.get("N5DS_EMU_OBJECT_STORE") if scheme == "s3" else None
    key = (scheme, u.netloc) if emu is None else (scheme, u.netloc, emu)
    fs = _FS_CACHE.get(key)
    if fs is None:
        if emu is not None:
            # emulated object store (emustore.py): serve s3: URIs from a
            # local backing dir with PUT-atomic/no-rename semantics — the
            # only way to prove the object-store branch without an
            # endpoint. Workers build their own instance over the same
            # backing dir (env exported before the JVM launched).
            from n5_dask_spark.sources.n5.emustore import emu_filesystem

            fs = emu_filesystem(emu)
        else:
            fs, _ = pafs.FileSystem.from_uri(path)
        _FS_CACHE[key] = fs
    return fs, p


def _type_name(fs) -> str:
    """pyarrow type_name with the PyFileSystem wrapper prefix stripped:
    a handler-backed store (emustore, any fsspec bridge) reports
    ``py::<name>`` — the semantics are the handler's, not the wrapper's."""
    t = getattr(fs, "type_name", "")
    return t[4:] if t.startswith("py::") else t


def _put_atomic(fs) -> bool:
    return _type_name(fs) in _PUT_ATOMIC_TYPES


def publish_file(path: str, payload: bytes) -> None:
    """Publish one file at a URI path with never-torn visibility.

    Rename-capable FS: write ``.inprogress-<uuid>`` in the parent, then
    atomic move — a reader sees the old bytes or the new bytes, never a
    prefix, and a retried task's re-publish is a full overwrite. Object
    stores: direct PUT (atomic per object; the dot-named temp would cost
    an extra round-trip and the move would be copy+delete, *less* atomic
    than the PUT itself)."""
    fs, p = _resolve(path)
    if _put_atomic(fs):
        with fs.open_output_stream(p) as f:
            f.write(payload)
        return
    parent = p.rsplit("/", 1)[0]
    fs.create_dir(parent, recursive=True)
    tmp = f"{parent}/.inprogress-{uuid.uuid4().hex}"
    try:
        with fs.open_output_stream(tmp) as f:
            f.write(payload)
        fs.move(tmp, p)
    except BaseException:
        try:
            fs.delete_file(tmp)
        except OSError:
            pass  # temp never landed, or the move already consumed it
        raise


def exists(path: str) -> bool:
    from pyarrow import fs as pafs

    f, p = _resolve(path)
    return f.get_file_info(p).type != pafs.FileType.NotFound


def read_file(path: str) -> bytes | None:
    """File contents, or None if absent (no-session twin of metadata's
    Hadoop-FS ``_read_text`` — usable executor-side and in claim fences)."""
    from pyarrow import fs as pafs

    f, p = _resolve(path)
    if f.get_file_info(p).type == pafs.FileType.NotFound:
        return None
    with f.open_input_stream(p) as stream:
        return stream.readall()


def delete_file(path: str) -> None:
    from pyarrow import fs as pafs

    f, p = _resolve(path)
    if f.get_file_info(p).type != pafs.FileType.NotFound:
        f.delete_file(p)


def make_dirs(path: str) -> None:
    """mkdir -p; a no-op on object stores (keys need no directories)."""
    fs, p = _resolve(path)
    fs.create_dir(p, recursive=True)


def file_size(path: str) -> int | None:
    """Size of the file at ``path`` in bytes, or None if it is absent."""
    from pyarrow import fs as pafs

    f, p = _resolve(path)
    info = f.get_file_info(p)
    return None if info.type == pafs.FileType.NotFound else info.size


def list_file_sizes(dir_path: str) -> dict[str, int] | None:
    """Recursive file listing under a URI directory: sizes keyed by
    slash-joined paths RELATIVE to it — or None if the filesystem cannot
    list (caller falls back to per-key probes). One LIST round-trip
    replaces O(n_blocks) sequential probes in DataSource planning, where
    on a real object store a large grid would otherwise cost a network
    call per grid cell."""
    from pyarrow import fs as pafs

    f, p = _resolve(dir_path)
    sel = pafs.FileSelector(p.rstrip("/"), recursive=True, allow_not_found=True)
    try:
        infos = f.get_file_info(sel)
    except (NotImplementedError, OSError):
        return None
    base = p.rstrip("/") + "/"
    return {
        i.path[len(base):]: i.size
        for i in infos
        if i.type == pafs.FileType.File and i.path.startswith(base)
    }


def list_files(dir_path: str) -> set[str] | None:
    """The relative paths of :func:`list_file_sizes`."""
    sizes = list_file_sizes(dir_path)
    return None if sizes is None else set(sizes)


def _refuse_existing_marker(marker_path: str) -> RuntimeError:
    return RuntimeError(
        f"refusing to write: write-session marker {marker_path} already "
        "exists — either another writer is mid-job on this dataset "
        "(concurrent same-dataset writers are refused up front) or a "
        "previous writer died leaving the dataset incomplete. If the "
        "previous writer is known dead, delete the marker; the dataset "
        "may be partially written — prefer re-creating it from source."
    )


def claim_marker_uri(marker_path: str) -> str:
    """Claim a write-session marker at a URI path; returns the marker path.

    Protocol (see module doc): refuse if the marker exists; then on LOCAL
    filesystems a true ``O_CREAT|O_EXCL`` conditional create (at most one
    claimant ever proceeds — the exists() pre-check just keeps the two
    refusal messages distinct); elsewhere PUT a unique writer token and
    read it back twice behind randomized delays, refusing unless OUR
    token survived both reads. The token names pid + a uuid so refusal
    messages and post-mortems can identify the surviving writer. The
    double read-back narrows but cannot close the PUT-fence race — see
    the module doc for the exact interleave and why only a conditional
    write closes it."""
    token = f"writer pid {os.getpid()} token {uuid.uuid4().hex}\n".encode()
    if exists(marker_path):
        raise _refuse_existing_marker(marker_path)
    fs, p = _resolve(marker_path)
    if _type_name(fs) == "local":
        # conditional create: the one primitive that makes the claim exact
        os.makedirs(os.path.dirname(p), exist_ok=True)
        try:
            fd = os.open(p, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o666)
        except FileExistsError:
            raise RuntimeError(
                f"lost the write-session claim race at {marker_path}: another "
                "writer created the marker between our existence check and "
                "our exclusive create. This dataset has a live concurrent "
                "writer; retry after it finishes."
            ) from None
        with os.fdopen(fd, "wb") as f:
            f.write(token)
        return marker_path
    publish_file(marker_path, token)
    for _ in range(2):
        # randomized settle: a rival that passed the exists() pre-check at
        # the same instant most likely PUTs within this span, so at least
        # one of us sees the other's token (best-effort; module doc)
        time.sleep(random.uniform(0.05, 0.15))
        survived = read_file(marker_path)
        if survived is None:
            # Our own PUT is not readable back. On a read-after-write
            # consistent store that means a rival deleted/replaced the key
            # mid-claim; on an eventually-consistent store it can be OUR
            # token still propagating — indistinguishable from here, so
            # refuse LOUDLY either way. Deleting the key now would be
            # wrong in both readings (it may already hold a rival's live
            # claim), so the marker may surface later as litter — that is
            # the price of no conditional write (module doc).
            raise RuntimeError(
                f"write-session claim at {marker_path} could not read its "
                "own token back: another writer removed or replaced the "
                "marker mid-claim, or this store is not read-after-write "
                "consistent. Refusing to write. If this store is eventually "
                "consistent, our marker PUT may still surface; once no "
                "writer is live, delete the marker before retrying."
            )
        if survived != token:
            raise RuntimeError(
                f"lost the write-session claim race at {marker_path}: another "
                f"writer's token landed last ({survived.decode(errors='replace').strip()!r}). "
                "This dataset has a live concurrent writer; retry after it "
                "finishes."
            )
    return marker_path
