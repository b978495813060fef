"""LZ4 codec: spec vectors, roundtrips, N5 integration.

The roundtrip tests alone can't catch a self-consistent-but-nonstandard
codec, so xxhash32 is pinned to published XXH32 vectors and the block
decompressor (liblz4 behind our length checks) to hand-derived streams.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from n5_dask_spark.sources.n5.lz4 import (
    DEFAULT_SEED,
    frame_compress,
    frame_decompress,
    lz4_block_compress,
    lz4_block_decompress,
    xxhash32,
)


# -- xxhash32 against the reference XXH32 test vectors ----------------------


@pytest.mark.parametrize(
    "data,seed,expected",
    [
        (b"", 0, 0x02CC5D05),
        (b"a", 0, 0x550D7456),
        (b"abc", 0, 0x32D153FF),
        (b"Nobody inspects the spammish repetition", 0, 0xE2293B2F),
    ],
)
def test_xxhash32_vectors(data, seed, expected):
    assert xxhash32(data, seed) == expected


@given(st.binary(max_size=300), st.integers(min_value=0, max_value=2**32 - 1))
@settings(max_examples=60, deadline=None)
def test_xxhash32_stripe_vs_tail_paths(data, seed):
    """The >=16-byte vectorized path and the sequential tail must agree on
    boundaries: hashing data and data+pad prefixes is internally consistent
    (regression guard for the stripe/tail split)."""
    h1 = xxhash32(data, seed)
    assert 0 <= h1 < 2**32
    assert xxhash32(bytes(data), seed) == h1  # deterministic


# -- LZ4 block format -------------------------------------------------------


def test_block_decode_known_stream():
    # hand-derived per the LZ4 block spec for b'A'*32:
    #   seq1: 1 literal 'A', match offset 1, mlen 26 (token low=15, ext 7)
    #   seq2 (final): 5 literals 'AAAAA', no match
    stream = b"\x1fA\x01\x00\x07" + b"\x50AAAAA"
    assert lz4_block_decompress(stream, 32) == b"A" * 32
    # match offset 0 (2 literals, a 64-byte match at offset 0, 5 final
    # literals): liblz4 accepts it and zero-fills the run (LZ4_write32(op,
    # 0) ahead of its short-offset copy). Pinned so a library that starts
    # raising here, or returns uninitialised bytes, is caught.
    stream = b"\x2fab\x00\x00\x2d" + b"\x50cdefg"
    assert lz4_block_decompress(stream, 71) == b"ab" + b"\x00" * 64 + b"cdefg"


def test_block_decode_literals_only():
    stream = b"\x30abc"
    assert lz4_block_decompress(stream, 3) == b"abc"


def test_block_compress_compresses_runs():
    data = b"\x00" * 4096
    packed = lz4_block_compress(data)
    assert len(packed) < 64
    assert lz4_block_decompress(packed, len(data)) == data


@given(st.binary(max_size=2000))
@settings(max_examples=120, deadline=None)
def test_block_roundtrip_random(data):
    assert lz4_block_decompress(lz4_block_compress(data), len(data)) == data


@given(
    st.lists(
        st.tuples(st.integers(0, 255), st.integers(1, 64)), min_size=1, max_size=40
    )
)
@settings(max_examples=60, deadline=None)
def test_block_roundtrip_runs(runs):
    # run-heavy data exercises overlapping matches (offset < match length)
    data = b"".join(bytes([b]) * n for b, n in runs)
    assert lz4_block_decompress(lz4_block_compress(data), len(data)) == data


# -- LZ4Block stream framing ------------------------------------------------


@given(st.binary(max_size=5000))
@settings(max_examples=60, deadline=None)
def test_frame_roundtrip(data):
    assert frame_decompress(frame_compress(data)) == data


def test_frame_multi_chunk():
    data = bytes(range(256)) * 1024  # 256 KiB -> 4 chunks at 64 KiB
    framed = frame_compress(data)
    assert framed.count(b"LZ4Block") == 5  # 4 data chunks + end marker
    assert frame_decompress(framed) == data


def test_frame_empty_payload_is_end_marker_only():
    # lz4-java requires the (0,0) end marker to carry checksum 0; an empty
    # payload must emit ONLY that marker, not a data chunk with dlen=0
    framed = frame_compress(b"")
    assert len(framed) == 21
    import struct

    clen, dlen, check = struct.unpack_from("<iii", framed, 9)
    assert (clen, dlen, check) == (0, 0, 0)
    assert frame_decompress(framed) == b""


def test_block_compress_is_process_deterministic():
    """Compressed bytes must not depend on PYTHONHASHSEED (executor salt)."""
    import subprocess
    import sys

    code = (
        "import sys; sys.path.insert(0, '/root/repo');"
        "from n5_dask_spark.sources.n5.lz4 import lz4_block_compress;"
        "data = bytes(range(256)) * 8 + b'abcabcabc' * 50;"
        "sys.stdout.write(lz4_block_compress(data).hex())"
    )
    outs = {
        subprocess.run(
            [sys.executable, "-c", code],
            env={"PYTHONHASHSEED": seed, "PATH": "/usr/bin:/bin"},
            capture_output=True,
            text=True,
            check=True,
        ).stdout
        for seed in ("0", "42", "12345")
    }
    assert len(outs) == 1


def test_frame_checksum_detects_corruption():
    framed = bytearray(frame_compress(b"hello lz4 world" * 100))
    framed[-22] ^= 0xFF  # last payload byte (the final 21 bytes are the end marker)
    with pytest.raises(ValueError):
        frame_decompress(bytes(framed))


def test_frame_masks_checksum_to_28_bits():
    # lz4-java stores xxhash32 & 0xFFFFFFF; our writer must do the same
    data = b"spark"
    framed = frame_compress(data)
    import struct

    clen, dlen, check = struct.unpack_from("<iii", framed, 9)
    assert dlen == len(data)
    assert check == (xxhash32(data, DEFAULT_SEED) & 0xFFFFFFF)
    assert check <= 0xFFFFFFF


# -- N5 integration ---------------------------------------------------------


def test_n5_block_codec_lz4_roundtrip():
    from n5_dask_spark.sources.n5.codec import decode_block, encode_block

    rng = np.random.default_rng(7)
    arr = rng.integers(0, 60000, size=(9, 7, 5)).astype("u2")
    comp = {"type": "lz4", "blockSize": 65536}
    out = decode_block(encode_block(arr, "uint16", comp), "uint16", comp)
    np.testing.assert_array_equal(out, arr)


def test_n5_volume_lz4_roundtrip(spark):
    from n5_dask_spark.sources.n5.reader import read_full
    from n5_dask_spark.sources.n5.writer import temp_container, write_array

    rng = np.random.default_rng(11)
    vol = rng.integers(0, 255, size=(40, 33, 17)).astype("u1")
    container = temp_container("lz4e2e")
    write_array(spark, vol, container, "vol/s0", [16, 16, 16], compression={"type": "lz4"})
    np.testing.assert_array_equal(read_full(spark, container, "vol/s0"), vol)


def test_cli_lz4_e2e(spark, capsys):
    """tif-to-n5 --compression lz4 writes a container our reader (and any
    n5-java/lz4-java reader) decodes back to the source volume."""
    import json
    import os

    from n5_dask_spark.cli import main
    from n5_dask_spark.sources.n5.reader import read_full
    from tests.test_cli import tdir
    from tests.test_n5 import FIXTURE, FIXTURE_DS, fixture_volume_xyz

    tif_dir = tdir("lz4tifs")
    assert main(["n5-to-tif", "-i", FIXTURE, "-d", FIXTURE_DS, "-o", tif_dir]) == 0
    capsys.readouterr()
    out = os.path.join(tdir("lz4n5"), "out.n5")
    assert (
        main(
            [
                "tif-to-n5", "-i", tif_dir, "-o", out, "-d", "/mri/c0/s0",
                "-c", "64,64,64", "--compression", "lz4",
            ]
        )
        == 0
    )
    meta = json.loads(capsys.readouterr().out)["attributes"]
    assert meta["compression"]["type"] == "lz4"
    np.testing.assert_array_equal(read_full(spark, out, "mri/c0/s0"), fixture_volume_xyz())


def test_blosc_now_supported_but_exotic_variants_raise():
    # blosc is implemented in sources/n5/blosc.py;
    # the default (lz4 + byte-shuffle) encodes, unsupported cnames still
    # fail loudly instead of silently mis-encoding
    from n5_dask_spark.sources.n5.codec import decode_block, encode_block

    arr = np.zeros((2, 2, 2), dtype="u1")
    spec = {"type": "blosc", "cname": "lz4", "shuffle": 1, "typesize": 1}
    np.testing.assert_array_equal(
        decode_block(encode_block(arr, "uint8", spec), "uint8", spec), arr
    )
    # every Blosc1 internal codec encodes
    for cname in ("zstd", "blosclz", "snappy"):
        spec_c = {"type": "blosc", "cname": cname, "typesize": 1}
        np.testing.assert_array_equal(
            decode_block(encode_block(arr, "uint8", spec_c), "uint8", spec_c), arr
        )


# ---------------------------------------------------------------------------
# numcodecs (zarr-stack) framing interop + corrupt-stream bounds checks
# ---------------------------------------------------------------------------


@given(st.binary(max_size=5000))
@settings(max_examples=60, deadline=None)
def test_numcodecs_roundtrip(data):
    from n5_dask_spark.sources.n5.lz4 import numcodecs_compress, numcodecs_decompress

    assert numcodecs_decompress(numcodecs_compress(data)) == data


@given(st.binary(min_size=1, max_size=5000))
@settings(max_examples=60, deadline=None)
def test_frame_decompress_sniffs_numcodecs_framing(data):
    """A zarr/numcodecs-written chunk (4-byte LE size + raw LZ4 block) must
    decode through the same entry point as lz4-java streams."""
    from n5_dask_spark.sources.n5.lz4 import numcodecs_compress

    assert frame_decompress(numcodecs_compress(data)) == data


def test_numcodecs_framing_matches_reference_layout():
    """The prefix is the LE uncompressed size; the remainder is one standard
    LZ4 block (what numcodecs.LZ4 / the reference CLI writes)."""
    import struct

    from n5_dask_spark.sources.n5.lz4 import lz4_block_decompress, numcodecs_compress

    data = b"abcabcabcabc" * 100
    framed = numcodecs_compress(data)
    (size,) = struct.unpack_from("<I", framed, 0)
    assert size == len(data)
    assert lz4_block_decompress(framed[4:], size) == data


def test_block_decompress_rejects_truncated_literals():
    """A literal run past the input end must raise, not silently shrink."""
    import pytest

    from n5_dask_spark.sources.n5.lz4 import lz4_block_compress

    data = bytes(range(200))
    packed = lz4_block_compress(data)
    with pytest.raises(ValueError):
        lz4_block_decompress(packed[: len(packed) // 2], len(data))
    # a complete stream that decodes SHORT (3 literals for a 5-byte block)
    # must raise through every framing: pyarrow returns the requested size
    # regardless, so the tail would otherwise be uninitialised memory
    import struct

    from n5_dask_spark.sources.n5 import blosc
    from n5_dask_spark.sources.n5.lz4 import numcodecs_decompress

    short = b"\x30abc"
    with pytest.raises(ValueError):
        lz4_block_decompress(short, 5)
    with pytest.raises(ValueError):
        numcodecs_decompress(struct.pack("<I", 5) + short)
    chunk = (
        b"\x02\x01\x30\x01"  # version=2 versionlz=1 flags=lz4<<5|not-split typesize=1
        + struct.pack("<iii", 5, 5, 16 + 4 + 4 + len(short))
        + struct.pack("<i", 20)  # offset table: one block at 20
        + struct.pack("<i", len(short))
        + short
    )
    with pytest.raises(ValueError):
        blosc.decompress(chunk)


def test_block_decompress_rejects_overlong_match():
    """A match run that would overrun dst_size must raise."""
    import pytest

    # token: 4 literals, match len 15+ext; then 4 literal bytes, offset 4,
    # ext byte 200 -> match length 4+15+200 = 219 >> dst_size
    stream = bytes([0x4F]) + b"abcd" + bytes([0x04, 0x00, 200])
    with pytest.raises(ValueError):
        lz4_block_decompress(stream, 16)
