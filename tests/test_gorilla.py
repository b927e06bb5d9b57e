"""Compression round-trip invariants (BASELINE.json:15 token-array equality)."""

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tsf import gorilla as G

rng = np.random.default_rng(7)


class TestIntCodec:
    @pytest.mark.parametrize("arr", [
        np.array([], dtype=np.int64),
        np.array([5]),
        np.array([5, 5]),
        np.array([0, 0, 0, 0]),
        np.arange(1000) * 3 + 17,                      # perfectly linear -> tiny
        rng.integers(0, 50257, 5000),
        rng.integers(-2**40, 2**40, 100),
        np.array([2**62, -2**62, 0, 2**62 - 1]),
    ])
    def test_roundtrip(self, arr):
        arr = np.asarray(arr, dtype=np.int64)
        assert np.array_equal(G.decompress_ints(G.compress_ints(arr)), arr)

    def test_linear_sequence_compresses_hard(self):
        arr = np.arange(10000) * 7 + 3
        assert len(G.compress_ints(arr)) < 40  # d2 == 0 everywhere

    @given(st.lists(st.integers(min_value=0, max_value=50256), max_size=300))
    @settings(max_examples=50, deadline=None)
    def test_roundtrip_property(self, xs):
        arr = np.asarray(xs, dtype=np.int64)
        assert np.array_equal(G.decompress_ints(G.compress_ints(arr)), arr)


def _float_roundtrip(arr: np.ndarray) -> np.ndarray:
    """One row through the float-block codec."""
    (block,) = G.compress_float_rows(arr[None, :], np.array([arr.size]))
    (out,) = G.decompress_float_rows([block])
    return out


class TestFloatCodec:
    @pytest.mark.parametrize("arr", [
        np.array([]),
        np.array([3.14]),
        np.full(100, 2.5),
        rng.standard_normal(500),
        np.cumsum(rng.standard_normal(1000)) * 0.01 + 100.0,
        np.array([np.nan, np.inf, -np.inf, 0.0, -0.0, 1e-310]),
    ])
    def test_roundtrip_bitexact(self, arr):
        arr = np.asarray(arr, dtype=np.float64)
        out = _float_roundtrip(arr)
        assert np.array_equal(arr.view(np.uint64), out.view(np.uint64))

    def test_row_matrix_blocks_decode_alone(self):
        """Each row's block is self-contained: decoded on its own it gives
        back exactly that row's first ``count`` values."""
        M = rng.standard_normal((40, 10)) + 50
        counts = np.array([10] * 30 + [7, 3, 1, 0] + [10] * 6)
        blocks = G.compress_float_rows(M, counts)
        for i, c in enumerate(counts):
            (got,) = G.decompress_float_rows([blocks[i]])
            want = M[i, :c]
            assert np.array_equal(got, want), i

    def test_smooth_series_ratio(self):
        arr = np.full(500, 12345.678)
        (block,) = G.compress_float_rows(arr[None, :], np.array([500]))
        assert len(block) < 30


def test_batch_decompress_matches_single():
    rng = np.random.default_rng(7)
    blocks, want = [], []
    for n in [0, 1, 2, 3, 10, 10, 10, 64, 7]:
        x = rng.normal(size=n)
        if n >= 3:
            x[0] = np.nan  # NaN payload must round-trip bit-exactly
        if n == 7:
            x[:] = 3.5     # constant block -> width 0 path
        blocks += G.compress_float_rows(x[None, :], np.array([n]))
        want.append(x)
    got = G.decompress_float_rows(blocks)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g.dtype == np.float64 and g.shape == w.shape
        assert np.array_equal(g.view(np.uint64), np.asarray(w).view(np.uint64))


def test_block_bytes_independent_of_batch():
    """A block is a pure function of its row: encoded alone, in one batch
    or in a shuffled batch of other rows, each row yields the same bytes.
    Rows with very different XOR windows share a count, so a batch-wide
    window would change the narrow rows' bytes."""
    r = np.random.default_rng(3)
    M = np.round(r.normal(100, 5, (300, 10)), 2)
    M[::3] = np.cumsum(r.standard_normal((100, 10)), axis=1) * 1e6
    M[::7] = 2.5
    M[::11, 4] = np.nan
    counts = r.integers(0, 11, 300)
    counts[:200] = 10
    alone = [G.compress_float_rows(M[i:i + 1], counts[i:i + 1])[0]
             for i in range(300)]
    assert G.compress_float_rows(M, counts) == alone
    perm = r.permutation(300)
    assert G.compress_float_rows(M[perm], counts[perm]) == [alone[i] for i in perm]
    half = perm[:150]
    assert G.compress_float_rows(M[half], counts[half]) == [alone[i] for i in half]


def test_wider_window_block_decodes():
    """The wire format lets a block carry a wider window than its row
    needs (a batch-wide window, as earlier encoders wrote); the decoder
    reads such blocks unchanged."""
    x = np.array([1.5, 1.75, -3.0])
    u = x.view(np.uint64)
    xored = (u[1:] ^ u[:-1]).astype(">u8").tobytes()  # trail 0, 8 bytes
    block = struct.pack("<BIQBB", 0x12, 3, int(u[0]), 0, 64) + xored
    (got,) = G.decompress_float_rows([block])
    assert np.array_equal(got.view(np.uint64), u)


def test_decoders_reject_foreign_blocks():
    (good,) = G.compress_float_rows(np.array([[1.0, 2.0, 4.0]]), np.array([3]))
    with pytest.raises(ValueError, match="not a float block"):
        G.decompress_float_rows([good, b"\x11" + good[1:]])
    bad_width = good[:14] + bytes([12]) + good[15:]
    with pytest.raises(ValueError, match="whole bytes"):
        G.decompress_float_rows([bad_width])
    with pytest.raises(ValueError, match="trail"):
        G.decompress_float_rows([good[:13] + bytes([64]) + good[14:]])
    with pytest.raises(ValueError, match="length"):
        G.decompress_float_rows([good[:-1]])
    with pytest.raises(ValueError, match="not an int block"):
        G.decompress_ints(good)


def test_decoder_checks_raise_under_python_O():
    """The block checks are exceptions, not asserts: under ``python -O``
    a foreign block must still fail instead of decoding as garbage."""
    import os
    import subprocess
    import sys
    from pathlib import Path
    repo = str(Path(__file__).resolve().parents[1])
    code = f"""
import sys
sys.path.insert(0, {repo!r})
import numpy as np
from tsf import gorilla as G
(good,) = G.compress_float_rows(np.array([[1.0, 2.0, 4.0]]), np.array([3]))
for name, fn, block in [
        ("magic", G.decompress_float_rows, [b"\\x11" + good[1:]]),
        ("width", G.decompress_float_rows, [good[:14] + bytes([12]) + good[15:]]),
        ("int", G.decompress_ints, good)]:
    try:
        fn(block)
        print(name, "NO ERROR")
    except ValueError:
        print(name, "RAISED")
"""
    r = subprocess.run([sys.executable, "-O", "-c", code],
                       env={**os.environ, "PYTHONOPTIMIZE": "1"},
                       capture_output=True, text=True, timeout=120)
    assert r.stdout.split() == ["magic", "RAISED", "width", "RAISED",
                                "int", "RAISED"], (r.stdout, r.stderr[-2000:])


class TestFullRangeProperties:
    """Full-domain property tests: ANY int64 sequence and ANY float64 bit
    pattern (incl. NaN payloads, denormals, infinities) must round-trip
    bit-exactly — the BASELINE.json token-array-equality invariant with
    no value-range assumptions."""

    @given(st.lists(st.integers(min_value=-2**63, max_value=2**63 - 1),
                    max_size=200))
    @settings(max_examples=80, deadline=None)
    def test_int_roundtrip_full_int64_range(self, xs):
        arr = np.asarray(xs, dtype=np.int64)
        assert np.array_equal(G.decompress_ints(G.compress_ints(arr)), arr)

    def test_int_roundtrip_wraparound_pair(self):
        """Regression: [-2^63, 2^63-1] has a delta that only exists in
        wrapped two's-complement; reconstruction overflowed Python->C
        long before the wrap-aware fix."""
        arr = np.array([-2**63, 2**63 - 1], dtype=np.int64)
        assert np.array_equal(G.decompress_ints(G.compress_ints(arr)), arr)

    @given(st.lists(st.integers(min_value=0, max_value=2**64 - 1),
                    max_size=200))
    @settings(max_examples=80, deadline=None)
    def test_float_roundtrip_any_bitpattern(self, bits):
        arr = np.asarray(bits, dtype=np.uint64).view(np.float64)
        out = _float_roundtrip(arr)
        assert np.array_equal(arr.view(np.uint64), out.view(np.uint64))
