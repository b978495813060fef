"""Blosc1 codec tests: header layout per the public chunk
format, hand-computed shuffle vectors, exhaustive roundtrips across
codec x shuffle x typesize x size (incl. multi-block, stored-block and
memcpy fallbacks), and the N5 write->read integration."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from n5_dask_spark.sources.n5 import blosc


# --- format-level vectors -------------------------------------------------


def test_header_layout_matches_public_spec():
    payload = bytes(range(64)) * 8  # 512 compressible bytes
    chunk = blosc.compress(payload, typesize=4, cname="zlib", shuffle=1)
    version, versionlz, flags, typesize, nbytes, blocksize, cbytes = struct.unpack_from(
        "<BBBBiii", chunk
    )
    assert version == 2
    assert typesize == 4
    assert nbytes == 512
    assert cbytes == len(chunk)
    assert flags & 0x1  # byte-shuffle bit
    assert not flags & 0x2  # not memcpyed
    assert (flags >> 5) & 0x7 == 3  # zlib internal codec id
    assert 0 < blocksize <= nbytes and blocksize % typesize == 0


def test_shuffle_hand_vector():
    # typesize 2 over elements (01,02)(03,04)(05,06): first bytes then second
    assert blosc._shuffle(b"\x01\x02\x03\x04\x05\x06", 2) == b"\x01\x03\x05\x02\x04\x06"
    assert blosc._unshuffle(b"\x01\x03\x05\x02\x04\x06", 2) == b"\x01\x02\x03\x04\x05\x06"
    # trailing remainder (7th byte) stays in place
    assert blosc._shuffle(b"\x01\x02\x03\x04\x05\x06\x07", 2) == b"\x01\x03\x05\x02\x04\x06\x07"


def test_empty_payload():
    chunk = blosc.compress(b"", typesize=8)
    assert len(chunk) == blosc.HEADER_SIZE
    assert blosc.decompress(chunk) == b""


def test_memcpy_fallback_on_incompressible_data():
    rng = np.random.default_rng(7)
    payload = rng.bytes(4096)  # random: nothing to compress
    chunk = blosc.compress(payload, typesize=4, cname="lz4", shuffle=1)
    flags = chunk[2]
    assert flags & 0x2  # memcpyed
    assert len(chunk) == blosc.HEADER_SIZE + len(payload)
    assert blosc.decompress(chunk) == payload


# --- roundtrips -----------------------------------------------------------


@pytest.mark.parametrize("cname", ["lz4", "zlib"])
@pytest.mark.parametrize("shuffle", [0, 1])
@pytest.mark.parametrize("typesize", [1, 2, 4, 8])
def test_roundtrip_matrix(cname, shuffle, typesize):
    rng = np.random.default_rng(hash((cname, shuffle, typesize)) % 2**32)
    for n in (1, 3, typesize, 1000, 4097):
        # low-entropy data (sorted small ints) so compression engages
        payload = np.sort(rng.integers(0, 5, n).astype(np.uint8)).tobytes()
        chunk = blosc.compress(payload, typesize=typesize, cname=cname, shuffle=shuffle)
        assert blosc.decompress(chunk) == payload


def test_multiblock_roundtrip():
    data = (np.arange(100_000, dtype=np.uint16) % 1000).tobytes()
    chunk = blosc.compress(data, typesize=2, cname="lz4", shuffle=1, blocksize=16_384)
    nblocks = -(-len(data) // 16_384)
    offsets = struct.unpack_from(f"<{nblocks}i", chunk, blosc.HEADER_SIZE)
    assert list(offsets) == sorted(offsets) and offsets[0] == blosc.HEADER_SIZE + 4 * nblocks
    assert blosc.decompress(chunk) == data


def test_stored_block_inside_compressed_chunk():
    # first half compressible, second half random: the random BLOCK is
    # stored (csize == neblock) while the chunk overall stays compressed
    rng = np.random.default_rng(11)
    data = b"\x00" * 8192 + rng.bytes(8192)
    chunk = blosc.compress(data, typesize=1, cname="lz4", shuffle=0, blocksize=8192)
    assert not chunk[2] & 0x2  # chunk itself is not memcpyed
    assert blosc.decompress(chunk) == data


def test_lz4hc_aliases_lz4_format():
    payload = b"abcd" * 512
    a = blosc.compress(payload, typesize=4, cname="lz4hc")
    assert (a[2] >> 5) & 0x7 == 1  # lz4 format id
    assert blosc.decompress(a) == payload


# --- unsupported variants fail loudly ------------------------------------


def test_unsupported_internal_codec_raises():
    payload = b"x" * 64
    chunk = bytearray(blosc.compress(payload, typesize=1, cname="zlib", shuffle=0))
    # codec ids 5-7 are outside the Blosc1 id space: always refused
    chunk[2] = (chunk[2] & 0x1F) | (5 << 5)
    with pytest.raises(NotImplementedError, match="not"):
        blosc.decompress(bytes(chunk))
    with pytest.raises(NotImplementedError, match="not"):
        blosc.compress(payload, cname="lzma")  # not a Blosc1 internal codec


# Recorded boundary vector: a byte-literal chunk with the zstd internal
# codec id (flag bits 5-7 = 4) but a truncated stream. The corrupt stream
# must raise the decoder-total ValueError — the support boundary for
# third-party N5 containers written with non-default
# ``numcodecs.Blosc(cname=...)`` settings (the reference accepts any,
# src/tif_to_n5.py:89-92).
_ZSTD_CHUNK = (
    # version=2 versionlz=1 flags=0x90 (codec 4=zstd | not-split) typesize=1
    b"\x02\x01\x90\x01"
    + struct.pack("<iii", 4, 4, 27)  # nbytes=4 blocksize=4 cbytes=27
    + struct.pack("<i", 20)  # offset table: one block at 20
    + struct.pack("<i", 3)
    + b"\x28\xb5\x2f"  # 3-byte fake zstd stream (magic prefix)
)


def test_zstd_boundary_vector():
    with pytest.raises(ValueError, match="zstd"):
        blosc.decompress(_ZSTD_CHUNK)


# --- zstd internal codec (pyarrow's libzstd) ------------------------------


def test_zstd_roundtrips_all_shuffles():
    rng = np.random.default_rng(23)
    for shuffle in (0, 1, 2):
        for ts in (1, 2, 4, 8):
            data = (np.arange(3000, dtype=np.uint32) % 251).astype(np.uint8).tobytes() * ts
            chunk = blosc.compress(
                data, typesize=ts, cname="zstd", clevel=5, shuffle=shuffle, blocksize=4096
            )
            assert (chunk[2] >> 5) & 0x7 == 4  # zstd codec id on the wire
            assert chunk[2] & 0x10  # not-split flag set (single-stream)
            assert blosc.decompress(chunk) == data
            # incompressible payloads still roundtrip (stored/memcpy legs)
            noise = rng.bytes(2048 * ts)
            assert blosc.decompress(
                blosc.compress(noise, typesize=ts, cname="zstd", shuffle=shuffle)
            ) == noise


def test_zstd_foreign_chunk_decodes():
    """A chunk whose zstd streams were produced by the REAL libzstd
    (pyarrow), laid out in the documented container format, must decode —
    the shape a third-party numcodecs.Blosc(cname='zstd') writer emits."""
    import pyarrow as pa

    raw = (np.arange(6000, dtype=np.uint16) % 997).tobytes()
    blocksize = 4096
    nblocks = -(-len(raw) // blocksize)
    comps = [
        pa.Codec("zstd").compress(raw[i * blocksize : (i + 1) * blocksize], asbytes=True)
        for i in range(nblocks)
    ]
    table_end = 16 + 4 * nblocks
    offsets, pos = [], table_end
    for c in comps:
        offsets.append(pos)
        pos += 4 + len(c)
    chunk = (
        struct.pack("<BBBBiii", 2, 1, (4 << 5) | 0x10, 1, len(raw), blocksize, pos)
        + struct.pack(f"<{nblocks}i", *offsets)
        + b"".join(struct.pack("<i", len(c)) + c for c in comps)
    )
    assert blosc.decompress(chunk) == raw


# --- snappy internal codec ------------------------------------------------
#
# Hand-computed vectors straight from the public snappy format description
# (google/snappy format_description.txt): varint preamble, literal tags
# (inline + escaped lengths), all three copy-tag widths, overlap/RLE.


def test_snappy_literal_only():
    # varint(5), literal tag (5-1)<<2, "hello"
    assert blosc.snappy_decompress(b"\x05\x10hello", 5) == b"hello"


def test_snappy_copy1_overlap():
    # "abcd" literal + copy-1 (len 8, offset 4): tag (8-4)<<2|1, offset byte
    data = b"\x0c" + b"\x0c" + b"abcd" + b"\x11\x04"
    assert blosc.snappy_decompress(data, 12) == b"abcdabcdabcd"


def test_snappy_copy2_and_copy4():
    lit = b"\x1c" + b"01234567"  # literal tag (8-1)<<2
    # copy-2: tag (8-1)<<2|2, 2-byte LE offset 8
    d2 = b"\x10" + lit + b"\x1e\x08\x00"
    assert blosc.snappy_decompress(d2, 16) == b"0123456701234567"
    # copy-4: tag (8-1)<<2|3, 4-byte LE offset 8
    d4 = b"\x10" + lit + b"\x1f\x08\x00\x00\x00"
    assert blosc.snappy_decompress(d4, 16) == b"0123456701234567"


def test_snappy_rle_period_one():
    # 1-byte literal then a 19-byte copy-2 at offset 1: classic RLE overlap
    data = b"\x14" + b"\x00a" + b"\x4a\x01\x00"
    assert blosc.snappy_decompress(data, 20) == b"a" * 20


def test_snappy_escaped_literal_lengths():
    # 60-escape: 1-byte length-1 = 99 -> 100 literal bytes
    d1 = b"\x64" + b"\xf0\x63" + b"a" * 100
    assert blosc.snappy_decompress(d1, 100) == b"a" * 100
    # 61-escape + 2-byte varint preamble: 300 = varint AC 02; 299 = 2B 01 LE
    d2 = b"\xac\x02" + b"\xf4\x2b\x01" + b"z" * 300
    assert blosc.snappy_decompress(d2, 300) == b"z" * 300


def test_snappy_malformed_streams_raise():
    with pytest.raises(ValueError):
        blosc.snappy_decompress(b"\x08\x00a\x11\x00", 8)  # offset 0
    with pytest.raises(ValueError, match="declares"):
        blosc.snappy_decompress(b"\x07\x10hello", 5)  # preamble != expected
    with pytest.raises(ValueError):
        blosc.snappy_decompress(b"\x05\x10hel", 5)
    with pytest.raises(ValueError, match="truncated in its length varint"):
        blosc.snappy_decompress(b"\xff", 5)
    with pytest.raises(ValueError):
        blosc.snappy_decompress(b"\x02\x10hello", 2)


def test_snappy_blosc_chunk_decodes():
    # Whole-container vector: one snappy block ("abcd" literal + overlap
    # copy) framed in a Blosc1 chunk with codec id 2 | not-split.
    stream = b"\x0c\x0cabcd\x11\x04"
    chunk = (
        b"\x02\x01\x50\x01"  # version=2 versionlz=1 flags=0x50 typesize=1
        + struct.pack("<iii", 12, 12, 16 + 4 + 4 + len(stream))
        + struct.pack("<i", 20)  # offset table: one block at 20
        + struct.pack("<i", len(stream))
        + stream
    )
    assert blosc.decompress(chunk) == b"abcdabcdabcd"
    # the same container around 8-byte streams in a 12-byte block must
    # refuse: one whose preamble says 8 (libsnappy would hand back an
    # uninitialised tail) and one whose preamble says 12
    for short in (b"\x08\x0cabcd\x01\x04", b"\x0c\x0cabcd\x01\x04"):
        bad = (
            b"\x02\x01\x50\x01"
            + struct.pack("<iii", 12, 12, 16 + 4 + 4 + len(short))
            + struct.pack("<i", 20)
            + struct.pack("<i", len(short))
            + short
        )
        with pytest.raises(ValueError):
            blosc.decompress(bad)


def test_snappy_blosc_chunk_with_shuffle():
    # Same container path with byte-shuffle flagged (typesize 2): the
    # snappy payload holds the SHUFFLED bytes; decode must unshuffle.
    shuffled = bytes(b"\x00\x01" * 8)  # 16 bytes: 8 uint16 elements
    # literal-only stream: varint(16), tag (16-1)<<2
    stream = b"\x10" + bytes([15 << 2]) + shuffled
    chunk = (
        b"\x02\x01\x51\x02"  # flags = snappy<<5 | not-split | shuffle
        + struct.pack("<iii", 16, 16, 16 + 4 + 4 + len(stream))
        + struct.pack("<i", 20)
        + struct.pack("<i", len(stream))
        + stream
    )
    out = blosc.decompress(chunk)
    # unshuffle of (2, 8) layout: element i = (byte0[i], byte1[i])
    expected = np.frombuffer(shuffled, np.uint8).reshape(2, 8).T.tobytes()
    assert out == expected


# --- bit-shuffle ----------------------------------------------------------


def test_bitshuffle_hand_vectors():
    # typesize 1, 8 elements: planes are emitted LSB-first (row k = bit k,
    # per TRANS_BIT_8X8: new byte k bit j = old byte j bit k), and within
    # a plane element i packs into bit i%8 of byte i//8 (element 0 at the
    # LSB — see _bitshuffle docstring). Vectors are hand-executions of
    # the published bshuf scalar kernel, NOT round-trips of this code:
    # element0 = 0x80 -> only plane 7 (its MSB) is populated, with
    # element 0 at that plane's LSB.
    assert blosc._bitshuffle(b"\x80" + b"\x00" * 7, 1) == b"\x00" * 7 + b"\x01"
    assert blosc._bitshuffle(b"\x01" * 8, 1) == b"\xff" + b"\x00" * 7
    # typesize 2: rows 0-7 = byte 0's planes, rows 8-15 = byte 1's
    # (bshuf_trans_bitrow_eight's byte-major final row order)
    v = blosc._bitshuffle(b"\x01\x80" + b"\x00" * 14, 2)
    expect = bytearray(16)
    expect[0] = 0x01  # byte0 bit0 plane (element 0 has byte0 = 0x01)
    expect[15] = 0x01  # byte1 bit7 plane (element 0 has byte1 = 0x80)
    assert v == bytes(expect)
    # leftover elements (not a multiple of 8) are copied unshuffled,
    # mirroring c-blosc's wrapper (shuffle.c:bitshuffle truncate+memcpy)
    data = bytes(range(8)) + b"\xaa\xbb"
    shuffled = blosc._bitshuffle(data, 1)
    assert shuffled[8:] == b"\xaa\xbb"
    assert blosc._bitunshuffle(shuffled, 1) == data


def test_bitshuffle_matches_published_scalar_kernel():
    """Non-circular witness: transcribe the published bshuf scalar kernel
    pipeline (TRANS_BIT_8X8 -> trans_byte_elem -> trans_bit_byte ->
    trans_bitrow_eight, from bitshuffle's bitshuffle_core.c, which c-blosc
    vendors) as literal per-byte loops, structurally unrelated to the
    numpy implementation, and require bit-identical output. This is the
    test that caught the round-6 plane-order reversal (unpackbits'
    MSB-first default vs the kernel's LSB-first planes)."""
    import random

    def trans_bit_8x8(x):
        t = (x ^ (x >> 7)) & 0x00AA00AA00AA00AA
        x = (x ^ t ^ (t << 7)) & 0xFFFFFFFFFFFFFFFF
        t = (x ^ (x >> 14)) & 0x0000CCCC0000CCCC
        x = (x ^ t ^ (t << 14)) & 0xFFFFFFFFFFFFFFFF
        t = (x ^ (x >> 28)) & 0x00000000F0F0F0F0
        x = (x ^ t ^ (t << 28)) & 0xFFFFFFFFFFFFFFFF
        return x

    def bshuf_scalar(data, tsize):
        nelem = len(data) // tsize
        nbyte = nelem * tsize
        # bshuf_trans_byte_elem: byte j of element i -> j*nelem + i
        a = np.frombuffer(data, np.uint8).reshape(nelem, tsize).T.copy().reshape(-1)
        mid = bytearray(nbyte)
        # bshuf_trans_bit_byte: per 8-byte group, out[ii/8 + kk*nbyte/8]
        for ii in range(0, nbyte, 8):
            x = trans_bit_8x8(int.from_bytes(bytes(a[ii : ii + 8]), "little"))
            for kk in range(8):
                mid[ii // 8 + kk * (nbyte // 8)] = (x >> (kk * 8)) & 0xFF
        # bshuf_trans_bitrow_eight: row ii <- bit-row ii%8 of byte-row ii/8
        nbyte_row = nelem // 8
        fin = bytearray(nbyte)
        for ii in range(8 * tsize):
            src = (ii % 8) * tsize * nbyte_row + (ii // 8) * nbyte_row
            fin[ii * nbyte_row : (ii + 1) * nbyte_row] = mid[src : src + nbyte_row]
        return bytes(fin)

    rng = random.Random(5)
    for tsize in (1, 2, 4, 8):
        for nelem in (8, 64, 256):
            data = bytes(rng.randrange(256) for _ in range(nelem * tsize))
            assert blosc._bitshuffle(data, tsize) == bshuf_scalar(data, tsize)
            assert blosc._bitunshuffle(bshuf_scalar(data, tsize), tsize) == data


@pytest.mark.parametrize("cname", ["lz4", "zlib"])
@pytest.mark.parametrize("typesize", [1, 2, 4, 8])
def test_bitshuffle_roundtrip(cname, typesize):
    rng = np.random.default_rng(typesize)
    for n in (1, 7, 8, 1000, 4097):
        payload = np.sort(rng.integers(0, 5, n).astype(np.uint8)).tobytes()
        chunk = blosc.compress(payload, typesize=typesize, cname=cname, shuffle=2)
        assert blosc.decompress(chunk) == payload
    # multi-block with a non-aligned leftover block
    data = (np.arange(100_003, dtype=np.uint8) % 11).tobytes()
    chunk = blosc.compress(data, typesize=typesize, cname=cname, shuffle=2, blocksize=16_384)
    if not chunk[2] & 0x2:  # compression engaged
        assert chunk[2] & 0x4  # bit-shuffle flag recorded
    assert blosc.decompress(chunk) == data


def test_bitshuffle_split_block_decode():
    # a real c-blosc chunk can carry bit-shuffle WITH the split layout
    # (split_block() is independent of the filter); build one by hand
    payload = (np.arange(281, dtype=np.uint32) % 97).astype(np.uint32).tobytes()[: 2 * 512 + 100]
    bitshuffled = b"".join(
        blosc._bitshuffle(payload[i : i + 512], 4) for i in range(0, len(payload), 512)
    )
    chunk = bytearray(
        _build_split_chunk_raw(bitshuffled, payload, typesize=4, blocksize=512)
    )
    assert blosc.decompress(bytes(chunk)) == payload


def test_corrupt_headers_rejected():
    with pytest.raises(ValueError):
        blosc.decompress(b"\x00" * 8)  # truncated header
    good = blosc.compress(b"y" * 128, typesize=1, cname="zlib", shuffle=0)
    bad = bytearray(good)
    struct.pack_into("<i", bad, 12, 4)  # cbytes < header size
    with pytest.raises(ValueError):
        blosc.decompress(bytes(bad))


def test_corrupt_block_offsets_rejected():
    """Out-of-bounds and header-aliasing offsets must raise the module's
    documented ValueError, never struct.error or silently wrong bytes."""
    good = blosc.compress(b"z" * 512, typesize=1, cname="zlib", shuffle=0)
    for evil in (len(good) + 100, -4, 0):  # past end, negative, into header
        bad = bytearray(good)
        struct.pack_into("<i", bad, blosc.HEADER_SIZE, evil)
        with pytest.raises(ValueError, match="offset|bounds|past"):
            blosc.decompress(bytes(bad))


def test_clevel_zero_means_no_compression():
    # blosc semantics: clevel 0 opts out of compression -> memcpyed chunk
    payload = b"\x00" * 4096  # maximally compressible, still must memcpy
    chunk = blosc.compress(payload, typesize=4, cname="lz4", clevel=0, shuffle=1)
    assert chunk[2] & 0x2  # memcpyed flag
    assert len(chunk) == blosc.HEADER_SIZE + len(payload)
    assert blosc.decompress(chunk) == payload


# --- c-blosc block-split layout -------------------------------------------


def test_compress_marks_chunks_not_split():
    # real c-blosc decoders (blosc_d) read typesize sub-streams per block
    # whenever flag bit 4 is CLEAR and blocksize/typesize >= 128; this
    # encoder emits one stream per block, so bit 4 must be set
    chunk = blosc.compress(b"\x00\x01\x02\x03" * 1024, typesize=4, cname="lz4", shuffle=1)
    assert chunk[2] & 0x10


def _build_split_chunk(payload, typesize, blocksize, cname="zlib", shuffle=True):
    """Assemble a chunk the way real c-blosc does WITHOUT the not-split
    flag: every non-leftover block is split into `typesize` int32-prefixed
    sub-streams (the leftover block stays single-stream)."""
    import zlib as _zlib

    from n5_dask_spark.sources.n5.lz4 import lz4_block_compress

    nbytes = len(payload)
    nblocks = -(-nbytes // blocksize)
    codec_id = 3 if cname == "zlib" else 1
    per_block = []
    for i in range(nblocks):
        block = payload[i * blocksize : (i + 1) * blocksize]
        neblock = len(block)
        if shuffle:
            block = blosc._shuffle(block, typesize)
        split = (
            1 < typesize <= 16 and blocksize // typesize >= 128 and neblock == blocksize
        )
        nstreams = typesize if split else 1
        ssize = neblock // nstreams
        streams = []
        for j in range(nstreams):
            s = block[j * ssize : (j + 1) * ssize]
            comp = _zlib.compress(s) if cname == "zlib" else lz4_block_compress(s)
            if len(comp) >= len(s):
                comp = s  # stored stream: csize == ssize
            streams.append(comp)
        per_block.append(streams)
    table_end = blosc.HEADER_SIZE + 4 * nblocks
    offsets, pos = [], table_end
    for streams in per_block:
        offsets.append(pos)
        pos += sum(4 + len(s) for s in streams)
    flags = (codec_id << 5) | (0x1 if shuffle else 0)  # bit 4 deliberately clear
    out = bytearray(
        struct.pack("<BBBBiii", 2, 1, flags, typesize, nbytes, blocksize, pos)
    )
    out += struct.pack(f"<{nblocks}i", *offsets)
    for streams in per_block:
        for s in streams:
            out += struct.pack("<i", len(s)) + s
    return bytes(out)


def _build_split_chunk_raw(filtered, payload, typesize, blocksize):
    """Like _build_split_chunk but from PRE-FILTERED block bytes (the
    caller applied bit-shuffle per block), flagged bit-shuffle + zlib,
    with the not-split bit deliberately clear."""
    import zlib as _zlib

    nbytes = len(payload)
    nblocks = -(-nbytes // blocksize)
    per_block = []
    for i in range(nblocks):
        block = filtered[i * blocksize : (i + 1) * blocksize]
        neblock = len(block)
        split = 1 < typesize <= 16 and blocksize // typesize >= 128 and neblock == blocksize
        nstreams = typesize if split else 1
        ssize = neblock // nstreams
        streams = []
        for j in range(nstreams):
            s = block[j * ssize : (j + 1) * ssize]
            comp = _zlib.compress(s)
            if len(comp) >= len(s):
                comp = s
            streams.append(comp)
        per_block.append(streams)
    table_end = blosc.HEADER_SIZE + 4 * nblocks
    offsets, pos = [], table_end
    for streams in per_block:
        offsets.append(pos)
        pos += sum(4 + len(s) for s in streams)
    flags = (3 << 5) | 0x4  # zlib | bit-shuffle; bit 4 (not-split) clear
    out = bytearray(struct.pack("<BBBBiii", 2, 1, flags, typesize, nbytes, blocksize, pos))
    out += struct.pack(f"<{nblocks}i", *offsets)
    for streams in per_block:
        for s in streams:
            out += struct.pack("<i", len(s)) + s
    return bytes(out)


@pytest.mark.parametrize("cname", ["zlib", "lz4"])
@pytest.mark.parametrize("shuffle", [True, False])
def test_decode_split_block_layout(cname, shuffle):
    # typesize 4, blocksize 512 -> blocksize/typesize = 128 >= 128: split
    # engages; 2 full blocks (4 streams each) + a 100-byte leftover
    # (single-stream) exercises both per-block layouts in one chunk
    payload = (np.arange(281, dtype=np.uint32) % 97).astype(np.uint32).tobytes()[: 2 * 512 + 100]
    chunk = _build_split_chunk(payload, typesize=4, blocksize=512, cname=cname, shuffle=shuffle)
    assert not chunk[2] & 0x10
    assert blosc.decompress(chunk) == payload


def test_split_not_engaged_below_min_buffersize():
    # blocksize/typesize = 64 < 128 -> blocks stay single-stream even
    # with the not-split flag clear; decoder must NOT assume streams
    payload = (np.arange(128, dtype=np.uint32) % 7).tobytes()  # 512 bytes
    chunk = _build_split_chunk(payload, typesize=8, blocksize=512, cname="zlib")
    assert blosc.decompress(chunk) == payload


def test_bounds_clamped_to_cbytes_not_buffer():
    # header self-description: an offset pointing into trailing garbage
    # past cbytes must raise, even though the bytes exist in the buffer
    good = blosc.compress(b"z" * 512, typesize=1, cname="zlib", shuffle=0)
    cbytes = struct.unpack_from("<i", good, 12)[0]
    bad = bytearray(good + b"\xff" * 64)  # trailing garbage
    struct.pack_into("<i", bad, blosc.HEADER_SIZE, cbytes + 8)  # offset past cbytes
    with pytest.raises(ValueError, match="offset|bounds|past"):
        blosc.decompress(bytes(bad))


# --- blosclz decoder (hand-built format vectors) --------------------------


def test_blosclz_literal_run():
    assert blosc.blosclz_decompress(bytes([2]) + b"abc", 3) == b"abc"


def test_blosclz_literal_then_match():
    # literals "abc", then a 6-byte match at distance 3 (ofs=0, code=2):
    # ctrl = (len 6 -> field 4) << 5
    data = bytes([2]) + b"abc" + bytes([(4 << 5) | 0, 2])
    assert blosc.blosclz_decompress(data, 9) == b"abcabcabc"


def test_blosclz_rle_overlap():
    # one literal 'x', then a 5-byte match at distance 1: the match reads
    # bytes it is itself producing (classic LZ77 RLE)
    data = bytes([0]) + b"x" + bytes([(3 << 5) | 0, 0])
    assert blosc.blosclz_decompress(data, 6) == b"xxxxxx"


def test_blosclz_extended_length_chain():
    # saturated 3-bit length field extends by a 255-terminated byte chain:
    # literals "ab", then match length (6+1)+3 = 10 at distance 2
    data = bytes([1]) + b"ab" + bytes([(7 << 5) | 0, 1, 1])
    assert blosc.blosclz_decompress(data, 12) == b"ab" * 6


def test_blosclz_code255_without_saturated_offset_is_near():
    # code == 255 alone does NOT switch to far mode; distance is
    # ofs(256) + code(255) + 1 = 512
    lits = bytearray()
    content = bytes((i * 7) % 251 for i in range(512))
    for i in range(0, 512, 32):
        lits += bytes([31]) + content[i : i + 32]
    data = bytes(lits) + bytes([(4 << 5) | 1, 255])
    out = blosc.blosclz_decompress(bytes(data), 512 + 6)
    assert out == content + content[:6]


def test_blosclz_far_distance():
    # far mode: code 255 with the 13-bit offset saturated, then a
    # big-endian uint16; distance = ofs16 + 8192 -> match start at 0
    content = bytes((i * 13 + 5) % 256 for i in range(8200))
    lits = bytearray()
    for i in range(0, 8192, 32):
        lits += bytes([31]) + content[i : i + 32]
    lits += bytes([7]) + content[8192:8200]
    data = bytes(lits) + bytes([(4 << 5) | 31, 255, 0, 8])
    out = blosc.blosclz_decompress(bytes(data), 8200 + 6)
    assert out == content + content[:6]


def test_blosclz_truncation_rejected():
    with pytest.raises(ValueError, match="truncated"):
        blosc.blosclz_decompress(bytes([5]) + b"ab", 6)  # literal run cut short
    with pytest.raises(ValueError, match="truncated"):
        blosc.blosclz_decompress(bytes([2]) + b"abc" + bytes([4 << 5]), 9)  # no offset byte


def test_blosclz_chunk_decode_end_to_end():
    # a whole blosc chunk labeled blosclz (codec id 0), single-stream:
    # build by hand with a stored stream and a blosclz-compressed stream
    payload = b"abcabcabc" * 100  # 900 bytes
    stream = bytes([2]) + b"abc" + bytes([(7 << 5) | 0, 255, 255, 255, 132, 2])
    # length = 6 + 255 + 255 + 132 = 648... verify: field 7 -> len 6, chain
    # 255+255+132 -> len 6+642=648, +3 = 651? craft simpler below instead
    del stream
    # simpler: literals "abc" then one extended match covering the rest
    rest = 900 - 3  # 897 bytes to copy at distance 3
    # length: 6 + sum(chain) + 3 = 897 -> chain sums to 888 = 255+255+255+123
    stream = bytes([2]) + b"abc" + bytes([(7 << 5) | 0, 255, 255, 255, 123, 2])
    assert blosc.blosclz_decompress(stream, 900) == payload
    nbytes = len(payload)
    chunk = (
        struct.pack("<BBBBiii", 2, 1, (0 << 5) | 0x10, 1, nbytes, nbytes, 0)
        + struct.pack("<i", blosc.HEADER_SIZE + 4)
        + struct.pack("<i", len(stream))
        + stream
    )
    chunk = bytearray(chunk)
    struct.pack_into("<i", chunk, 12, len(chunk))  # cbytes
    assert blosc.decompress(bytes(chunk)) == payload


# --- N5 codec integration -------------------------------------------------


def test_n5_codec_dispatch_roundtrip():
    from n5_dask_spark.sources.n5.codec import _compress, _decompress

    payload = (np.arange(10_000, dtype=np.uint16) % 300).tobytes()
    for cname in ("lz4", "blosclz", "snappy"):
        spec = {"type": "blosc", "cname": cname, "clevel": 5, "shuffle": 1, "typesize": 2}
        assert _decompress(_compress(payload, spec), spec) == payload


@pytest.mark.parametrize("shuffle", [0, 1, 2])
def test_n5_container_roundtrip_blosc(spark, shuffle):
    """Full distributed write->read through the blosc codec — the same
    pipeline the gzip/lz4 roundtrips run, with blosc/lz4/byte-shuffle."""
    from n5_dask_spark.sources.n5.reader import read_full
    from n5_dask_spark.sources.n5.writer import temp_container, write_array

    # structured (compressible) values so the lz4 path engages rather than
    # every block taking the legal memcpy fallback; non-divisible dims
    arr = (np.arange(40 * 25 * 13, dtype=np.uint16) % 700).reshape(40, 25, 13)
    out = temp_container()
    comp = {
        "type": "blosc",
        "cname": "lz4",
        "clevel": 5,
        "shuffle": shuffle,
        "typesize": 2,
        "blocksize": 0,
    }
    write_array(spark, arr, out, "vol/s0", [16, 16, 16], compression=comp)
    np.testing.assert_array_equal(read_full(spark, out, "vol/s0"), arr)
    # the written block files really are blosc chunks (header sanity)
    import glob as _glob

    f = sorted(_glob.glob(f"{out}/vol/s0/*/*/*"))[0]
    raw = open(f, "rb").read()
    body = raw[16:]  # N5 block header (mode/ndim/dims) then the chunk
    assert body[0] == 2 and (body[2] >> 5) & 0x7 == 1  # blosc v2, lz4 codec
    # the requested filter must actually be recorded in the written
    # chunks — the driver query's hash only covers the filter if so
    assert bool(body[2] & 0x1) == (shuffle == 1)
    assert bool(body[2] & 0x4) == (shuffle == 2)


# --- decoder totality (executor safety) -----------------------------------


def test_blosclz_fuzz_never_crashes():
    """Garbage streams must raise the module's ValueError (or decode to the
    declared size) — never IndexError/overflow that would kill an executor
    worker on a corrupt third-party chunk."""
    import random

    rng = random.Random(1234)
    for trial in range(500):
        n = rng.randrange(0, 64)
        data = bytes(rng.randrange(256) for _ in range(n))
        expected = rng.randrange(0, 256)
        try:
            out = blosc.blosclz_decompress(data, expected)
            assert len(out) == expected
        except ValueError:
            pass  # the only legal failure mode


def test_snappy_fuzz_never_crashes():
    """Same totality contract for the snappy decoder: garbage in ->
    ValueError (or a decode of exactly the expected size), nothing else."""
    import random

    rng = random.Random(4321)
    for trial in range(500):
        n = rng.randrange(0, 64)
        data = bytes(rng.randrange(256) for _ in range(n))
        expected = rng.randrange(0, 256)
        try:
            out = blosc.snappy_decompress(data, expected)
            assert len(out) == expected
        except ValueError:
            pass  # the only legal failure mode


def test_blosc_chunk_fuzz_never_crashes():
    """Whole-chunk decode on mutated real chunks: ValueError or
    NotImplementedError only, never an unbounded error type."""
    import random

    rng = random.Random(99)
    base = bytearray(
        blosc.compress((np.arange(4096, dtype=np.uint16) % 300).tobytes(), typesize=2)
    )
    for trial in range(300):
        bad = bytearray(base)
        for _ in range(rng.randrange(1, 6)):
            bad[rng.randrange(len(bad))] = rng.randrange(256)
        try:
            blosc.decompress(bytes(bad))
        except (ValueError, NotImplementedError):
            pass  # legal refusals
        # note: a mutation confined to the payload may still decode —
        # blosc has no checksum; size/bounds checks are the contract


# --- blosclz encoder ------------------------------------------------------
# The encoder is validated by roundtrips through the decoder, whose token
# loop is itself pinned by hand-computed vectors above — non-circular in
# the grammar (every decoder branch the encoder can reach is vector-tested)
# even though no real blosclz library exists in this container.


def test_blosclz_stream_roundtrip_shapes():
    import random

    rng = random.Random(21)
    cases = [
        b"",
        b"a",
        b"ab",
        b"abc",
        b"a" * 100_000,  # RLE: overlap copies with period 1
        b"abcd" * 25_000,  # period 4
        bytes(rng.randrange(256) for _ in range(5000)),  # incompressible
        b"the quick brown fox " * 640,
        # long literal runs (> 32) interleaved with long matches (> 264,
        # i.e. multiple 255-extension bytes)
        bytes(rng.randrange(256) for _ in range(100)) + b"x" * 1000
        + bytes(rng.randrange(256) for _ in range(40)) + b"x" * 1000,
    ]
    for raw in cases:
        enc = blosc.blosclz_compress(raw)
        assert blosc.blosclz_decompress(enc, len(raw)) == raw


def test_blosclz_encoder_window_boundary_never_emits_far_mode():
    # distances straddling MAX_DISTANCE: a repeated 64-byte motif placed so
    # candidate matches sit at distances 8185..8199 — the encoder must
    # either take the <= 8191 match or emit literals, never the ambiguous
    # (ofs saturated, code 255) far-mode pattern it refuses to produce
    import random

    rng = random.Random(22)
    motif = bytes(rng.randrange(256) for _ in range(64))
    for gap in range(8185 - 64, 8199 - 64 + 1):
        raw = motif + bytes(rng.randrange(256) for _ in range(gap)) + motif
        enc = blosc.blosclz_compress(raw)
        assert blosc.blosclz_decompress(enc, len(raw)) == raw


def test_blosclz_chunk_roundtrip_all_shuffles():
    rng = np.random.default_rng(23)
    arr = (rng.integers(0, 50, 4096, dtype=np.uint16) // 7).astype("<u2")
    payload = arr.tobytes()
    for shuffle in (0, 1, 2):
        chunk = blosc.compress(payload, typesize=2, cname="blosclz", shuffle=shuffle)
        assert blosc.decompress(chunk) == payload
        # codec id (bits 5-7) must be 0 = blosclz unless the chunk was
        # stored memcpyed (flag bit 1), where the codec bits are zeroed
        if not chunk[2] & 0x2:
            assert (chunk[2] >> 5) == 0
    # compressible input must actually compress through the blosclz leg
    chunk = blosc.compress(b"ab" * 8192, typesize=2, cname="blosclz", shuffle=1)
    assert len(chunk) < 1000 and (chunk[2] >> 5) == 0  # codec id 0 = blosclz
