"""Exhaustive block-corruption fuzz over every codec leg (r11 probe #4).

Bit rot is a certainty at 100-TB scale — a petabyte-class store flips
bits — so the question is never "does corruption happen" but "which
corruptions does the read path catch". This net answers it exhaustively
for one fixture block: EVERY strict-prefix truncation and EVERY
single-bit flip of the encoded block file, for every codec leg, each
classified through the real decode path (codec.decode_block) as

- ``raised``       — loud refusal (the only acceptable fleet-scale outcome),
- ``equal``        — decoded bit-identical (the flip hit a don't-care byte:
                     gzip MTIME/OS, the lz4 end marker's unused
                     compressionLevel nibble, ...),
- ``silent_wrong`` — decoded cleanly to DIFFERENT voxels: the dangerous lane.

Pinned truth (each assertion is a guarantee or a documented format limit):

- Truncation is NEVER silent: every strict prefix raises, every leg.
  (The lz4 leg owes this to the end-marker requirement added with this
  net — frame_decompress previously accepted EOF at a chunk boundary,
  where lz4-java raises "Stream ended prematurely".)
- The checksummed legs — gzip (CRC32), zlib (adler32), bzip2 (CRC32),
  xz (CRC64), lz4-java (xxhash32 per chunk) — have a ZERO silent lane
  under single-bit flips.
- raw: the 16-byte N5 header is fully guarded (mode whitelist + dims
  size-check refuse all 128 header-bit flips), but every payload bit flip
  lands silently — the N5 format carries no payload checksum. FORMAT
  LIMIT: at fleet scale the mitigation is store-level integrity (HDFS
  block CRCs, S3 ETag/Content-MD5), not the codec.
- blosc: Blosc1 frames checksum NOTHING — not the 16-byte header, not the
  internal-codec payload. With the zlib internal codec the payload IS
  protected (adler32), leaving exactly the header lane open (a flipped
  shuffle flag or typesize de-shuffles wrong data that passes the zlib
  checksum); with lz4/blosclz/snappy internals the payload lane is open
  too. FORMAT LIMIT, same mitigation as raw.
- zstd (n5-zstd extension): pyarrow's bundled libzstd writes frames
  WITHOUT the optional content checksum, so flips that keep the entropy
  streams decodable land silently. FORMAT/LIBRARY LIMIT.

Everything here is deterministic (fixed fixture, deterministic encoders),
so the assertions are exact, not statistical.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from n5_dask_spark.sources.n5.codec import decode_block, encode_block

DATA_TYPE = "uint16"
N5_HEADER_BYTES = 16  # >u2 mode, >u2 ndim, 3 x >i4 dims
BLOSC_HEADER_BYTES = 16


def fixture_block() -> np.ndarray:
    arr = ((np.arange(210).reshape(5, 6, 7) * 13) % 97).astype(np.uint16)
    arr[2, :, :] = 0  # a compressible run so every codec actually compresses
    return arr


# leg -> compression dict
LEGS: dict[str, dict] = {
    "raw": {"type": "raw"},
    "gzip": {"type": "gzip"},
    "zlib": {"type": "gzip", "useZlib": True},
    "bzip2": {"type": "bzip2"},
    "xz": {"type": "xz"},
    "lz4": {"type": "lz4"},
    "blosc-lz4": {"type": "blosc", "cname": "lz4", "typesize": 2},
    "blosc-blosclz": {"type": "blosc", "cname": "blosclz", "typesize": 2},
    "blosc-snappy": {"type": "blosc", "cname": "snappy", "typesize": 2},
    "blosc-zlib": {"type": "blosc", "cname": "zlib", "typesize": 2},
    "zstd": {"type": "zstd"},
}
CHECKSUMMED = ("gzip", "zlib", "bzip2", "xz", "lz4")


def encode_fixture(leg: str) -> tuple[np.ndarray, bytes, dict]:
    arr = fixture_block()
    comp = LEGS[leg]
    return arr, encode_block(arr, DATA_TYPE, comp), comp


def classify(buf: bytes, comp: dict, original: np.ndarray) -> str:
    try:
        out = decode_block(buf, DATA_TYPE, comp)
    except Exception:
        return "raised"
    if out.shape == original.shape and np.array_equal(out, original):
        return "equal"
    return "silent_wrong"


def flip_census(enc: bytes, comp: dict, arr: np.ndarray) -> dict[str, list[int]]:
    """offset lists per outcome, over every single-bit flip of ``enc``."""
    census: dict[str, list[int]] = {"raised": [], "equal": [], "silent_wrong": []}
    for i in range(len(enc)):
        for b in range(8):
            buf = bytearray(enc)
            buf[i] ^= 1 << b
            census[classify(bytes(buf), comp, arr)].append(i)
    return census


@pytest.mark.parametrize("leg", list(LEGS))
def test_truncation_never_silent(leg):
    arr, enc, comp = encode_fixture(leg)
    outcomes = {classify(enc[:k], comp, arr) for k in range(len(enc))}
    assert outcomes == {"raised"}, (
        f"{leg}: a strict-prefix truncation decoded clean ({outcomes})"
    )


@pytest.mark.parametrize("leg", CHECKSUMMED)
def test_bit_flips_checksummed_legs_have_no_silent_lane(leg):
    arr, enc, comp = encode_fixture(leg)
    census = flip_census(enc, comp, arr)
    assert census["silent_wrong"] == [], (
        f"{leg}: single-bit flips at offsets "
        f"{sorted(set(census['silent_wrong']))} decoded to wrong voxels"
    )


def _lz4_sequences(payload: bytes) -> tuple[int, list[tuple[int, int, int, int]]]:
    """Walk an lz4 block's sequences per the LZ4 block format, tracking
    positions instead of producing bytes.

    Returns the offset (within ``payload``) of the final sequence token —
    the last sequence is literals-only, so its match-length nibble is
    never read; liblz4 and lz4-java both stop after the final literal
    copy — and, per match, (offset-field position, match offset, output
    position, match length).
    """
    s, n, last, d = 0, len(payload), 0, 0
    matches = []
    while s < n:
        last = s
        token = payload[s]
        s += 1
        lit = token >> 4
        if lit == 15:
            while payload[s] == 255:
                lit += 255
                s += 1
            lit += payload[s]
            s += 1
        s += lit
        d += lit
        if s >= n:
            break  # literals-only last sequence
        (offset,) = struct.unpack_from("<H", payload, s)
        off_at = s
        s += 2
        mlen = (token & 0x0F) + 4
        if (token & 0x0F) == 15:
            while payload[s] == 255:
                mlen += 255
                s += 1
            mlen += payload[s]
            s += 1
        matches.append((off_at, offset, d, mlen))
        d += mlen
    return last, matches


def test_bit_flips_lz4_equal_lane_is_exactly_the_format_dont_cares():
    """Pin the lz4 leg's ENTIRE accept-despite-flip lane (r11 advice).

    After the r12 tightening (end marker check==0/clen==0, method nibble
    validated on every chunk header, dlen bounded by the token's level
    nibble, checksum field compared unmasked — all mirrored from
    lz4-java's LZ4BlockInputStream), the only single-bit flips that still
    decode clean are lz4 FORMAT don't-cares that the reference stack
    accepts too:

    - the low-nibble (compressionLevel) bits of each chunk token:
      lz4-java reads the nibble only for its ``originalLen > 1 <<
      (level + 10)`` bound, which every level value satisfies at these
      chunk sizes (dlen <= 1024);
    - the match-length nibble of the LAST sequence token inside each
      LZ4-compressed chunk: the last sequence is literals-only and both
      liblz4 and lz4-java stop after the final literal copy without
      reading it;
    - the bit that turns a power-of-two match offset into 0 where the
      match copies a zero run: liblz4 (also behind lz4-java's JNI path and
      numcodecs) accepts offset 0 and zero-fills the run.

    (The chunk checksum can't catch these: it hashes the DECODED bytes,
    which don't change.)
    """
    arr, enc, comp = encode_fixture("lz4")
    decoded = arr.astype(">u2").tobytes()  # the chunks' decoded payload
    census = flip_census(enc, comp, arr)
    expected, pos, out0 = [], N5_HEADER_BYTES, 0
    while pos < len(enc):
        expected += [pos + 8] * 4  # chunk token's level nibble
        clen, dlen, _check = struct.unpack_from("<iii", enc, pos + 9)
        token = enc[pos + 8]
        if dlen == 0:
            break
        assert dlen <= 1 << 10, "fixture chunk outgrew the level-0 bound"
        if (token & 0xF0) == 0x20:  # METHOD_LZ4: compressed payload
            last, matches = _lz4_sequences(enc[pos + 21 : pos + 21 + clen])
            expected += [pos + 21 + last] * 4
            for off_at, offset, d, mlen in matches:
                if offset & (offset - 1) == 0 and not any(
                    decoded[out0 + d : out0 + d + mlen]
                ):
                    expected.append(pos + 21 + off_at + (offset.bit_length() - 1) // 8)
        pos += 21 + clen
        out0 += dlen
    assert sorted(census["equal"]) == sorted(expected), (
        f"lz4 equal lane drifted: {sorted(census['equal'])} "
        f"(expected {sorted(expected)}, one entry per bit)"
    )


def test_bit_flips_raw_header_guarded_payload_open():
    arr, enc, comp = encode_fixture("raw")
    census = flip_census(enc, comp, arr)
    # every header bit flip refused (mode whitelist + dims/size check)...
    assert min(census["silent_wrong"]) >= N5_HEADER_BYTES
    assert max(census["raised"]) < N5_HEADER_BYTES
    assert len(census["raised"]) == 8 * N5_HEADER_BYTES
    # ...and every payload bit flip is silent: the N5 format has no payload
    # checksum. Documented limit; mitigate with store-level integrity.
    assert len(census["silent_wrong"]) == 8 * (len(enc) - N5_HEADER_BYTES)
    assert census["equal"] == []


def test_bit_flips_blosc_zlib_silent_lane_is_exactly_the_blosc_header():
    arr, enc, comp = encode_fixture("blosc-zlib")
    census = flip_census(enc, comp, arr)
    silent = sorted(set(census["silent_wrong"]))
    assert silent, "expected the documented Blosc1 header lane"
    # the zlib internal codec protects the PAYLOAD (adler32); what stays
    # open is the un-checksummed 16-byte Blosc1 header (shuffle flag,
    # typesize), whose flips re-interpret correctly-decompressed bytes
    assert all(
        N5_HEADER_BYTES <= off < N5_HEADER_BYTES + BLOSC_HEADER_BYTES
        for off in silent
    ), f"silent flips outside the Blosc1 header: {silent}"


def test_png_truncation_and_bit_flips_fully_guarded():
    # PNG is the one image format here WITH integrity built in: every
    # chunk carries a CRC32, and the decoder verifies each one. Pin the
    # strong result: NO truncation and NO single-bit flip ever decodes —
    # wrong or equal — silently. (The IEND requirement added with this
    # net closes the last lenient lane: a stream cut right after the
    # final IDAT used to decode clean.)
    from n5_dask_spark.sources.png import png_decode, png_encode

    img = ((np.arange(24 * 17 * 3).reshape(24, 17, 3) * 7) % 251).astype(np.uint8)
    img[5:9] = 0
    enc = png_encode(img)
    for k in range(len(enc)):
        with pytest.raises(Exception):
            png_decode(enc[:k])
    for i in range(len(enc)):
        for b in range(8):
            buf = bytearray(enc)
            buf[i] ^= 1 << b
            with pytest.raises(Exception):
                png_decode(bytes(buf))


def test_tiff_truncation_never_silent_header_guarded():
    # TIFF carries no checksums at all, so bit flips in the pixel strip
    # and in un-validated IFD value fields (strip offsets, padding) land
    # silently — FORMAT LIMIT, same class and mitigation as N5 raw. What
    # IS guaranteed: every strict-prefix truncation refuses, and the
    # 8-byte header (byte order, magic 42, first-IFD pointer) is fully
    # guarded — no flip there decodes.
    from n5_dask_spark.sources.tiff import decode_tiff, encode_tiff

    img = ((np.arange(24 * 17) * 7) % 251).astype(np.uint8).reshape(24, 17)
    enc = encode_tiff(img)
    for k in range(len(enc)):
        try:
            out = decode_tiff(enc[:k])
        except Exception:
            continue
        raise AssertionError(f"truncation to {k} bytes decoded {out.shape}")
    silent = []
    for i in range(len(enc)):
        for b in range(8):
            buf = bytearray(enc)
            buf[i] ^= 1 << b
            try:
                out = decode_tiff(bytes(buf))
            except Exception:
                continue
            if out.shape != img.shape or not np.array_equal(out, img):
                silent.append(i)
    assert silent, "no silent flips — TIFF verification appeared; tighten this pin"
    assert min(silent) >= 8, f"a header flip decoded silently (offset {min(silent)})"


@pytest.mark.parametrize("leg", ["blosc-lz4", "blosc-blosclz", "blosc-snappy", "zstd"])
def test_bit_flips_unchecksummed_legs_documented_silent_lane(leg):
    # Blosc1 internal lz4/blosclz/snappy streams and pyarrow's zstd frames
    # carry no integrity check: the silent lane EXISTS and is documented
    # (README failure contracts). This pin keeps the documentation honest —
    # if a future change adds verification, it must flip to an assertion
    # of zero, not rot.
    arr, enc, comp = encode_fixture(leg)
    census = flip_census(enc, comp, arr)
    assert census["silent_wrong"], (
        f"{leg}: no silent flips — verification was added; update the "
        "README codec-integrity matrix and tighten this test to zero"
    )
