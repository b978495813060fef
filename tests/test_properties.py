"""Property-based tests (SURVEY.md §5.4) for the custom array kernels —
the codec, fragment math, and windowed mean are pure functions, so
hypothesis explores shapes/dtypes/factors far beyond the fixture.

Spark-level rechunk roundtrips are covered by tests/test_n5.py; here the
fragment/reassembly math itself is exercised via numpy-only paths so
hypothesis can run hundreds of cases without Spark jobs."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st


dims3 = st.tuples(
    st.integers(1, 40), st.integers(1, 40), st.integers(1, 12)
)  # x, y, z


@settings(max_examples=60, deadline=None)
@given(
    dims=dims3,
    dtype=st.sampled_from(["uint8", "uint16", "int32", "float32", "float64"]),
    comp=st.sampled_from(
        [{"type": "raw"}, {"type": "gzip"}, {"type": "gzip", "useZlib": True, "level": 1}]
    ),
    seed=st.integers(0, 2**31),
)
def test_codec_roundtrip_property(dims, dtype, comp, seed):
    from n5_dask_spark.sources.n5.codec import decode_block, decode_header, encode_block

    rng = np.random.default_rng(seed)
    arr = (rng.random(tuple(reversed(dims))) * 200).astype(dtype)  # zyx
    raw = encode_block(arr, dtype, comp)
    mode, hdr_dims, _ = decode_header(raw)
    assert mode == 0 and tuple(hdr_dims) == dims  # header is x-fastest
    out = decode_block(raw, dtype, comp)
    np.testing.assert_array_equal(out, arr)


@settings(max_examples=60, deadline=None)
@given(
    dims=dims3,
    factors=st.tuples(st.integers(1, 4), st.integers(1, 4), st.integers(1, 3)),
    seed=st.integers(0, 2**31),
)
def test_windowed_mean_property(dims, factors, seed):
    """windowed_mean == brute-force window loop, incl. partial edge windows."""
    from n5_dask_spark.sources.n5.transforms import windowed_mean_zyx

    rng = np.random.default_rng(seed)
    arr = (rng.random(tuple(reversed(dims))) * 100).astype("f8")  # zyx
    fz, fy, fx = factors[2], factors[1], factors[0]
    got = windowed_mean_zyx(arr, [fz, fy, fx])
    import math

    exp_shape = tuple(math.ceil(s / f) for s, f in zip(arr.shape, (fz, fy, fx)))
    assert got.shape == exp_shape
    # brute force a few sample windows (corners + center)
    idxs = [(0, 0, 0), tuple(s - 1 for s in exp_shape)]
    if all(s > 1 for s in exp_shape):
        idxs.append(tuple(s // 2 for s in exp_shape))
    for iz, iy, ix in idxs:
        win = arr[
            iz * fz : (iz + 1) * fz,
            iy * fy : (iy + 1) * fy,
            ix * fx : (ix + 1) * fx,
        ]
        np.testing.assert_allclose(got[iz, iy, ix], win.mean(), rtol=1e-12)


@settings(max_examples=40, deadline=None)
@given(
    dims=dims3,
    old_bs=st.tuples(st.integers(1, 16), st.integers(1, 16), st.integers(1, 8)),
    new_bs=st.tuples(st.integers(1, 16), st.integers(1, 16), st.integers(1, 8)),
)
def test_fragment_cover_property(dims, old_bs, new_bs):
    """Every voxel is covered by exactly one (source block, target cell)
    fragment: the invariant behind the rechunk shuffle."""
    import itertools
    import math

    cover = np.zeros(tuple(reversed(dims)), dtype="i4")  # zyx
    grid = [math.ceil(d / b) for d, b in zip(dims, old_bs)]
    for g in itertools.product(*[range(n) for n in grid]):
        b0 = [gi * bi for gi, bi in zip(g, old_bs)]
        b1 = [min((gi + 1) * bi, d) for gi, bi, d in zip(g, old_bs, dims)]
        cells = [range(s // nb, (e - 1) // nb + 1) for s, e, nb in zip(b0, b1, new_bs)]
        for tcell in itertools.product(*cells):
            t0 = [c * nb for c, nb in zip(tcell, new_bs)]
            t1 = [min((c + 1) * nb, d) for c, nb, d in zip(tcell, new_bs, dims)]
            lo = [max(a, b) for a, b in zip(b0, t0)]
            hi = [min(a, b) for a, b in zip(b1, t1)]
            sel = tuple(slice(lo[ax], hi[ax]) for ax in range(2, -1, -1))
            cover[sel] += 1
    assert (cover == 1).all()


@settings(max_examples=120, deadline=None)
@given(
    data=st.binary(min_size=0, max_size=5000),
    typesize=st.sampled_from([1, 2, 3, 4, 8, 16]),
    cname=st.sampled_from(["lz4", "zlib", "blosclz", "snappy"]),
    shuffle=st.sampled_from([0, 1]),
    blocksize=st.sampled_from([0, 64, 257, 4096]),
)
def test_blosc_roundtrip_property(data, typesize, cname, shuffle, blocksize):
    """compress->decompress is the identity for ANY payload x parameter
    combination, and the emitted chunk's header always self-describes
    (cbytes == len(chunk), nbytes == len(payload))."""
    import struct

    from n5_dask_spark.sources.n5 import blosc

    chunk = blosc.compress(
        data, typesize=typesize, cname=cname, shuffle=shuffle, blocksize=blocksize
    )
    _, _, _, _, nbytes, _, cbytes = struct.unpack_from("<BBBBiii", chunk)
    assert nbytes == len(data)
    assert cbytes == len(chunk)
    assert blosc.decompress(chunk) == data


@settings(max_examples=80, deadline=None)
@given(
    n_elems=st.integers(0, 1000),
    typesize=st.sampled_from([2, 4, 8]),
    extra=st.integers(0, 7),
    seed=st.integers(0, 2**31),
)
def test_blosc_shuffle_is_a_permutation_inverse(n_elems, typesize, extra, seed):
    from n5_dask_spark.sources.n5 import blosc

    rng = np.random.default_rng(seed)
    data = rng.bytes(n_elems * typesize + extra)
    assert blosc._unshuffle(blosc._shuffle(data, typesize), typesize) == data


@settings(max_examples=80, deadline=None)
@given(
    h=st.integers(1, 20),
    w=st.integers(1, 20),
    c=st.sampled_from([1, 2, 3, 4]),
    seed=st.integers(0, 2**31),
)
def test_png_roundtrip_property(h, w, c, seed):
    """png_encode -> png_decode is the identity for any HxWxC uint8 image
    (the encoder cycles all five scanline filters per row, so taller
    images exercise every unfilter path)."""
    from n5_dask_spark.sources.png import png_decode, png_encode

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w, c), dtype=np.uint8)
    out = png_decode(png_encode(img))
    np.testing.assert_array_equal(out, img)


@settings(max_examples=150, deadline=None)
@given(n_elements=st.integers(1, 40), seed=st.integers(0, 2**31))
def test_snappy_decode_property(n_elements, seed):
    """The snappy decoder recovers the payload from streams assembled out
    of random spec-legal elements covering the whole tag space: literals
    with inline and 1/2-byte escaped lengths, copy-1 (lengths 4-11,
    offsets up to 2047), copy-2 and copy-4 with arbitrary lengths 1-64
    and offsets (including offset < length: overlapping RLE period copy).
    The expected payload is built alongside the stream with the spec's
    literal byte-at-a-time copy semantics, so this is not a decoder
    re-implementation."""
    from tests.conftest import snappy_varint

    from n5_dask_spark.sources.n5 import blosc

    rng = np.random.default_rng(seed)
    expected = bytearray()
    body = bytearray()
    for _ in range(n_elements):
        if not expected or rng.integers(0, 2) == 0:  # literal run
            lit = bytes(rng.integers(0, 256, int(rng.integers(1, 900)), dtype=np.uint8))
            if len(lit) <= 60:
                body += bytes([(len(lit) - 1) << 2]) + lit
            elif len(lit) <= 256:
                body += bytes([0xF0, len(lit) - 1]) + lit  # 1-byte escape
            else:
                body += bytes([0xF4]) + (len(lit) - 1).to_bytes(2, "little") + lit
            expected += lit
            continue
        kind = int(rng.integers(1, 4))
        if kind == 1:  # copy-1: 3-bit length-4, 11-bit offset
            ln = int(rng.integers(4, 12))
            off = int(rng.integers(1, min(len(expected), 2047) + 1))
            body += bytes([((ln - 4) << 2) | (off >> 8) << 5 | 1, off & 0xFF])
        else:  # copy-2 / copy-4: 6-bit length-1, 2/4-byte LE offset
            ln = int(rng.integers(1, 65))
            off = int(rng.integers(1, len(expected) + 1))
            body += bytes([((ln - 1) << 2) | kind]) + off.to_bytes(2 * (kind - 1), "little")
        for _i in range(ln):  # the spec's copy semantics, byte at a time
            expected.append(expected[-off])
    stream = snappy_varint(len(expected)) + bytes(body)
    assert blosc.snappy_decompress(stream, len(expected)) == bytes(expected)


@settings(max_examples=150, deadline=None)
@given(
    chunks=st.lists(
        st.one_of(
            st.binary(min_size=0, max_size=60),  # literal-run territory
            st.tuples(st.binary(min_size=1, max_size=6), st.integers(1, 400)).map(
                lambda t: t[0] * t[1]  # periodic: overlap-copy matches, RLE
            ),
        ),
        min_size=0,
        max_size=8,
    )
)
def test_blosclz_stream_roundtrip_property(chunks):
    """blosclz_compress -> blosclz_decompress is the identity for any byte
    stream — mixed literal runs, periodic matches (RLE overlap copies),
    and long repeats that force the 255-chained length extension."""
    from n5_dask_spark.sources.n5 import blosc

    data = b"".join(chunks)
    enc = blosc.blosclz_compress(data)
    assert blosc.blosclz_decompress(enc, len(data)) == data
