"""LZ4 codec for N5 blocks: lz4-java and numcodecs framings around liblz4.

n5-java's ``Lz4Compression`` writes blocks through lz4-java's
``LZ4BlockOutputStream`` — NOT the standard LZ4 frame format. Its framing
(one or more chunks, each at most ``blockSize`` bytes of uncompressed
payload):

    8 bytes   magic "LZ4Block"
    1 byte    token = method | level
                method: 0x10 = RAW (stored), 0x20 = LZ4 block compression
                level:  log2(blockSize) - 10  (default blockSize 65536 -> 6)
    4 bytes   LE compressed length
    4 bytes   LE decompressed length
    4 bytes   LE checksum = xxhash32(decompressed, seed 0x9747b28c) & 0xFFFFFFF
              (lz4-java masks to 28 bits; 0 for the end marker)
    n bytes   chunk data

A terminating chunk with decompressed length 0 marks end-of-stream
(lz4-java writes it and refuses a stream without it; so do we).

The LZ4 *block* compression inside a chunk is the standard LZ4 block
format: sequences of [token][literals][2-byte LE match offset][match],
high token nibble = literal count, low nibble = match length - 4, both
with 255-extension bytes. The block codec itself is liblz4, the library
lz4-java's JNI path and numcodecs also use, through pyarrow's
``Codec("lz4_raw")``; this module owns the framings around it, the
per-chunk xxhash32 check and the exact-length check pyarrow leaves out.
liblz4 accepts a match offset of 0 and zero-fills the run; in the
LZ4Block framing the chunk checksum still catches any wrong output.

Two incompatible lz4 framings exist in the N5 ecosystem:

- **n5-java** (``Lz4Compression``) writes the LZ4Block stream above; this
  module WRITES that framing.
- **zarr/numcodecs** (what the reference CLI uses:
  /root/reference/src/tif_to_n5.py:82, create_n5.py:55) writes a bare
  4-byte LE *uncompressed size* prefix followed by a single raw LZ4
  block (``numcodecs.LZ4``). n5-java cannot read those chunks and vice
  versa — a long-standing ecosystem split, not something we can paper
  over on the write side.

``frame_decompress`` READS both: it sniffs the 8-byte ``LZ4Block`` magic
and falls back to numcodecs framing when absent, so containers written by
either stack decode. Writes target n5-java (the stricter, checksummed
format); use ``numcodecs_compress`` explicitly for zarr-stack parity.
"""

from __future__ import annotations

import struct

import pyarrow as pa

MAGIC = b"LZ4Block"
METHOD_RAW = 0x10
METHOD_LZ4 = 0x20
DEFAULT_SEED = 0x9747B28C
DEFAULT_BLOCK_SIZE = 1 << 16  # lz4-java default 64 KiB

_MASK = 0xFFFFFFFF
_P1, _P2, _P3, _P4, _P5 = 2654435761, 2246822519, 3266489917, 668265263, 374761393


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _MASK


def xxhash32(data: bytes, seed: int = 0) -> int:
    """Spec implementation of XXH32. The 16-byte stripe loop is plain-int
    with unrolled lanes — each lane's accumulator is sequentially dependent
    across stripes, so numpy can't batch it, and small per-stripe numpy
    temporaries cost more than the arithmetic itself."""
    n = len(data)
    if n >= 16:
        nstripes = n // 16
        words = struct.unpack_from(f"<{nstripes * 4}I", data)
        a0 = (seed + _P1 + _P2) & _MASK
        a1 = (seed + _P2) & _MASK
        a2 = seed & _MASK
        a3 = (seed - _P1) & _MASK
        for i in range(0, nstripes * 4, 4):
            a0 = (a0 + words[i] * _P2) & _MASK
            a0 = (((a0 << 13) | (a0 >> 19)) & _MASK) * _P1 & _MASK
            a1 = (a1 + words[i + 1] * _P2) & _MASK
            a1 = (((a1 << 13) | (a1 >> 19)) & _MASK) * _P1 & _MASK
            a2 = (a2 + words[i + 2] * _P2) & _MASK
            a2 = (((a2 << 13) | (a2 >> 19)) & _MASK) * _P1 & _MASK
            a3 = (a3 + words[i + 3] * _P2) & _MASK
            a3 = (((a3 << 13) | (a3 >> 19)) & _MASK) * _P1 & _MASK
        h = (_rotl(a0, 1) + _rotl(a1, 7) + _rotl(a2, 12) + _rotl(a3, 18)) & _MASK
        pos = nstripes * 16
    else:
        h = (seed + _P5) & _MASK
        pos = 0
    h = (h + n) & _MASK
    while pos + 4 <= n:
        (k,) = struct.unpack_from("<I", data, pos)
        h = (h + k * _P3) & _MASK
        h = (_rotl(h, 17) * _P4) & _MASK
        pos += 4
    while pos < n:
        h = (h + data[pos] * _P5) & _MASK
        h = (_rotl(h, 11) * _P1) & _MASK
        pos += 1
    h ^= h >> 15
    h = (h * _P2) & _MASK
    h ^= h >> 13
    h = (h * _P3) & _MASK
    h ^= h >> 16
    return h


# ---------------------------------------------------------------------------
# LZ4 block format (liblz4, via pyarrow)
# ---------------------------------------------------------------------------

# LZ4HC level 3, the lowest high-compression level (liblz4's levels 1-2
# are its fast encoder): smaller blocks than the fast default on
# microscopy volumes, at native speed
_LZ4HC_LEVEL = 3
_ENCODER = pa.Codec("lz4_raw", compression_level=_LZ4HC_LEVEL)
_DECODER = pa.Codec("lz4_raw")


def lz4_block_decompress(src: bytes, dst_size: int) -> bytes:
    """Decompress one standard LZ4 block. ``dst_size`` is the exact
    decompressed size (known from the chunk header)."""
    try:
        out = _DECODER.decompress(src, dst_size, asbytes=True)
    except (OSError, ValueError) as exc:
        raise ValueError(f"corrupt LZ4 block: {exc}") from None
    if dst_size == 0:
        return out
    # pyarrow drops liblz4's decoded length and returns dst_size bytes
    # whatever the stream produced, so a short stream would come back with
    # an uninitialised tail. A stream that decodes to exactly dst_size
    # bytes cannot fit one byte less; one that still fits decoded short.
    try:
        _DECODER.decompress(src, dst_size - 1)
    except (OSError, ValueError):
        return out
    raise ValueError(f"corrupt LZ4 block: decodes to fewer than {dst_size} bytes")


def lz4_block_compress(src: bytes) -> bytes:
    """Compress one standard LZ4 block (an empty input encodes to the lone
    zero token liblz4 emits, which strict decoders require)."""
    return _ENCODER.compress(src, asbytes=True)


# ---------------------------------------------------------------------------
# lz4-java LZ4Block stream framing (what n5-java reads/writes)
# ---------------------------------------------------------------------------


def _compression_level(block_size: int) -> int:
    level = max(0, (block_size - 1).bit_length() - 10)
    if (1 << (level + 10)) < block_size:
        level += 1
    return level


def frame_compress(payload: bytes, block_size: int = DEFAULT_BLOCK_SIZE) -> bytes:
    out = bytearray()
    level = _compression_level(block_size)
    # empty payload -> ONLY the end marker: lz4-java treats any chunk with
    # dlen==0 as the end marker and requires its checksum field to be 0
    for off in range(0, len(payload), block_size):
        chunk = payload[off : off + block_size]
        check = xxhash32(chunk, DEFAULT_SEED) & 0xFFFFFFF
        packed = lz4_block_compress(chunk)
        if len(packed) < len(chunk):
            method, data = METHOD_LZ4, packed
        else:
            method, data = METHOD_RAW, chunk
        out += MAGIC
        out.append(method | level)
        out += struct.pack("<iii", len(data), len(chunk), check)
        out += data
    # end marker (lz4-java finish()): RAW, zero lengths, zero checksum
    out += MAGIC
    out.append(METHOD_RAW | level)
    out += struct.pack("<iii", 0, 0, 0)
    return bytes(out)


def numcodecs_compress(payload: bytes) -> bytes:
    """zarr/numcodecs.LZ4 framing: 4-byte LE uncompressed size + one raw
    LZ4 block. What the reference stack (zarr.N5Store + numcodecs) writes."""
    return struct.pack("<I", len(payload)) + lz4_block_compress(payload)


# largest decompressed chunk we accept from a bare numcodecs size prefix;
# a corrupted LZ4Block magic reinterpreted as a size would typically spell
# something enormous, and no sane N5 block approaches 1 GiB
_NUMCODECS_MAX_DST = 1 << 30


def numcodecs_decompress(raw: bytes) -> bytes:
    if len(raw) < 4:
        raise ValueError("numcodecs LZ4 chunk shorter than its size prefix")
    (dst_size,) = struct.unpack_from("<I", raw, 0)
    if dst_size > _NUMCODECS_MAX_DST:
        raise ValueError(
            f"numcodecs LZ4 size prefix {dst_size} exceeds {_NUMCODECS_MAX_DST}; "
            "stream is corrupt or not lz4 at all"
        )
    return lz4_block_decompress(raw[4:], dst_size)


def frame_decompress(raw: bytes) -> bytes:
    # Sniff the framing: lz4-java streams always start with the 8-byte
    # "LZ4Block" magic; zarr/numcodecs chunks start with a bare LE size.
    if raw[:8] != MAGIC:
        try:
            return numcodecs_decompress(raw)
        except ValueError as exc:
            # name BOTH framings tried: a one-byte-corrupted LZ4Block magic
            # otherwise surfaces as a baffling numcodecs complaint
            raise ValueError(
                "chunk is neither lz4-java LZ4Block (bad magic in first 8 "
                f"bytes) nor a valid numcodecs lz4 stream ({exc})"
            ) from exc
    out = bytearray()
    pos = 0
    n = len(raw)
    seen_end = False
    while pos < n:
        if raw[pos : pos + 8] != MAGIC:
            raise ValueError("bad LZ4Block magic")
        token = raw[pos + 8]
        method = token & 0xF0
        clen, dlen, check = struct.unpack_from("<iii", raw, pos + 9)
        pos += 21
        # lz4-java validates the method nibble on EVERY chunk header,
        # including the end marker (LZ4BlockInputStream throws "Stream is
        # corrupted" for any method outside {RAW, LZ4} before it looks at
        # the lengths) — validating only in the payload branch (pre-r12)
        # let a method-nibble flip in the end marker decode clean
        if method not in (METHOD_RAW, METHOD_LZ4):
            raise ValueError(f"unknown LZ4Block method 0x{method:02x}")
        # lz4-java bounds every chunk's declared size by the block size
        # encoded in the token's level nibble (blockSize = 1 << (level +
        # COMPRESSION_LEVEL_BASE), base 10) and throws "Stream is
        # corrupted" past it — parity keeps a corrupted dlen from asking
        # for a huge allocation here too
        if dlen > 1 << ((token & 0x0F) + 10):
            raise ValueError(
                f"LZ4Block chunk declares {dlen} bytes, over the token's "
                f"block size bound {1 << ((token & 0x0F) + 10)}"
            )
        if dlen == 0:
            # lz4-java writes the end marker with clen=0 and checksum=0 and
            # its LZ4BlockInputStream raises "Stream is corrupted" on any
            # other value — accepting arbitrary bytes here (pre-r12) let a
            # flipped bit in the marker's check/clen field decode clean
            # where the reference stack refuses
            if check != 0 or clen != 0:
                raise ValueError(
                    "LZ4Block end marker carries nonzero fields "
                    f"(clen={clen}, check={check}); lz4-java requires both 0"
                )
            seen_end = True
            break  # end marker
        # negative lengths are corruption: a negative clen would slice
        # empty AND move pos backwards, spinning this loop forever
        if clen < 0 or dlen < 0:
            raise ValueError(f"LZ4Block chunk with negative length (clen={clen}, dlen={dlen})")
        if pos + clen > n:
            raise ValueError("LZ4Block chunk truncated mid-payload")
        data = raw[pos : pos + clen]
        pos += clen
        if method == METHOD_RAW:
            if clen != dlen:
                raise ValueError(
                    f"raw LZ4Block chunk stores {clen} bytes but declares {dlen}"
                )
            chunk = bytes(data)
        elif method == METHOD_LZ4:
            chunk = lz4_block_decompress(data, dlen)
        else:
            raise ValueError(f"unknown LZ4Block method 0x{method:02x}")
        # lz4-java compares the stored int against the 28-bit-masked hash
        # with plain != — a stored field with ANY high-nibble bit set can
        # never match, so it refuses; exact parity (masking both sides,
        # pre-r12, silently accepted high-nibble corruption)
        if (xxhash32(chunk, DEFAULT_SEED) & 0xFFFFFFF) != check:
            raise ValueError("LZ4Block checksum mismatch")
        out += chunk
    if not seen_end:
        # lz4-java's LZ4BlockInputStream refuses EOF without the end marker
        # ("Stream ended prematurely"); accepting it here would let a stream
        # truncated AT a chunk boundary decode clean — the r11 corruption
        # fuzz's one non-raising truncation (tests/test_corruption_fuzz.py)
        raise ValueError("LZ4Block stream ended without its end marker")
    return bytes(out)
