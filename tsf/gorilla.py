"""Gorilla-style compression codecs, vectorized numpy bit-packing.

Two codecs, per the north rule (BASELINE.json:6 — "Gorilla XOR +
delta-of-delta compression of rolled-up points implemented in vectorized
pandas/Arrow UDFs"):

- :func:`compress_ints` / :func:`decompress_ints` — delta-of-delta with
  zigzag encoding and **block-adaptive** bit width. Used for token arrays
  (``array<int32>``) and integer aggregate streams.
- :func:`compress_float_rows` / :func:`decompress_float_rows` — Gorilla
  XOR of consecutive float64 bit patterns, one block per matrix row. Used
  for the decade means inside tier blocks.

The float rule: **one byte-aligned window per row**. Each row's block
keeps the XOR deltas' bits from its lowest set bit (``trail``) up,
rounded up to whole bytes, with (trail, width) taken from that row's
deltas alone. A block is therefore a pure function of its row — the
same bytes whatever batch, partitioning or resume produced it.

Documented deviations from the Facebook Gorilla paper (VLDB'15): the
canonical codec chooses leading/meaningful windows *per value* with a
2-bit control stream; that is inherently sequential. We choose one
window *per block* — one numpy reduction over the whole XOR matrix —
and round its width up to whole bytes, so packing is a byte view with
no per-bit expansion. That costs at most 7 bits per value of ratio for
fully vectorized encode/decode (the "no per-row Python" requirement).
The round-trip is exact: ``decompress(compress(x))`` reproduces
bit-identical arrays, including NaN payloads. pytest enforces the
token-array-equality invariant (BASELINE.json:15).
"""

from __future__ import annotations

import struct

import numpy as np

_MAGIC_INT = 0x11
_MAGIC_FLOAT = 0x12
#: 2^(8k), k = 0..7: a value needs one byte per floor it reaches
_BYTE_FLOORS = np.uint64(1) << (np.uint64(8) * np.arange(8, dtype=np.uint64))


def _pack_bits(values: np.ndarray, width: int) -> bytes:
    """Pack the low `width` bits of each uint64 into a contiguous bitstream."""
    if width == 0 or values.size == 0:
        return b""
    shifts = np.arange(width - 1, -1, -1, dtype=np.uint64)
    bits = ((values[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bits.ravel()).tobytes()


def _unpack_bits(buf: bytes, m: int, width: int) -> np.ndarray:
    if width == 0 or m == 0:
        return np.zeros(m, dtype=np.uint64)
    bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8), count=m * width)
    arr = bits.reshape(m, width).astype(np.uint64)
    shifts = np.arange(width - 1, -1, -1, dtype=np.uint64)
    return (arr << shifts[None, :]).sum(axis=1, dtype=np.uint64)


def _zigzag(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int64)
    return ((v << 1) ^ (v >> 63)).view(np.uint64)


def _unzigzag(u: np.ndarray) -> np.ndarray:
    u = u.astype(np.uint64)
    return ((u >> np.uint64(1)).view(np.int64)) ^ -((u & np.uint64(1)).view(np.int64))


def compress_ints(x: np.ndarray) -> bytes:
    """Delta-of-delta + zigzag + block-adaptive bitwidth. Exact round-trip."""
    x = np.asarray(x, dtype=np.int64)
    n = x.size
    head = struct.pack("<BI", _MAGIC_INT, n)
    if n == 0:
        return head
    if n == 1:
        return head + struct.pack("<q", int(x[0]))
    d1 = np.diff(x)
    head += struct.pack("<qq", int(x[0]), int(d1[0]))
    if n == 2:
        return head
    d2 = np.diff(d1)
    zz = _zigzag(d2)
    width = int(zz.max()).bit_length() if zz.size else 0
    return head + struct.pack("<B", width) + _pack_bits(zz, width)


def decompress_ints(buf: bytes) -> np.ndarray:
    magic, n = struct.unpack_from("<BI", buf, 0)
    if magic != _MAGIC_INT:
        raise ValueError(f"not an int block (magic {magic:#x})")
    off = 5
    if n == 0:
        return np.empty(0, dtype=np.int64)
    if n == 1:
        (x0,) = struct.unpack_from("<q", buf, off)
        return np.array([x0], dtype=np.int64)
    x0, d0 = struct.unpack_from("<qq", buf, off)
    off += 16
    if n == 2:
        # wrap-around int64 addition: the stored delta is np.diff's
        # two's-complement-wrapped value, so reconstruction must wrap
        # too (Python-int addition would overflow int64 for extreme
        # first values, e.g. [-2^63, 2^63-1])
        x1 = (x0 + d0) & 0xFFFFFFFFFFFFFFFF
        if x1 >= 1 << 63:
            x1 -= 1 << 64
        return np.array([x0, x1], dtype=np.int64)
    (width,) = struct.unpack_from("<B", buf, off)
    off += 1
    zz = _unpack_bits(buf[off:], n - 2, width)
    d2 = _unzigzag(zz)
    d1 = np.empty(n - 1, dtype=np.int64)
    d1[0] = d0
    d1[1:] = d0 + np.cumsum(d2)
    out = np.empty(n, dtype=np.int64)
    out[0] = x0
    out[1:] = x0 + np.cumsum(d1)
    return out


def _groups(counts: np.ndarray, wb: np.ndarray):
    """Yield ``(count, byte width, rows)`` for every distinct pair: the
    unit both float-block directions vectorize over."""
    key = counts * 9 + wb
    order = np.argsort(key, kind="stable")
    uniq, starts = np.unique(key[order], return_index=True)
    for k, rows in zip(uniq, np.split(order, starts[1:])):
        c, w = divmod(int(k), 9)
        yield c, w, rows


def compress_float_rows(M: np.ndarray, counts: np.ndarray) -> list[bytes]:
    """Compress the first ``counts[i]`` values of each row of a float64
    matrix into its own self-contained Gorilla-XOR block.

    Block layout (little-endian header): magic ``u8``, n ``u32``, then for
    n >= 1 the first value's bits ``u64``, then for n >= 2 ``trail u8``,
    ``width u8`` (bits, a multiple of 8) and n-1 big-endian
    ``width // 8``-byte values ``(u[i] ^ u[i-1]) >> trail``.

    Each row's (trail, width) comes from the OR of that row's own XOR
    deltas (one axis-1 reduce over the matrix), so a block is a pure
    function of its row: the bytes do not depend on which rows share the
    batch. Rows are assembled in one uint8 matrix per (count, byte width)
    group; only the final per-row byte slicing is a Python loop.
    """
    M = np.ascontiguousarray(M, dtype=np.float64)
    counts = np.asarray(counts, dtype=np.int64)
    m = M.shape[0]
    U = M.view(np.uint64)
    X = U[:, 1:] ^ U[:, :-1]
    X[np.arange(X.shape[1])[None, :] >= counts[:, None] - 1] = 0
    orall = np.bitwise_or.reduce(X, axis=1)
    # index of the lowest set bit: the lowest set bit alone is a power of
    # two, which float64 holds exactly (frexp(2^k) = (0.5, k + 1))
    low = orall & (~orall + np.uint64(1))
    trail = np.maximum(np.frexp(low.astype(np.float64))[1] - 1, 0).astype(np.uint64)
    # byte width: how many of 2^0, 2^8, ..., 2^56 the shifted OR reaches
    wb = ((orall >> trail)[:, None] >= _BYTE_FLOORS[None, :]).sum(axis=1)
    # big-endian bytes of every value: a width-8k value is its low k bytes
    B = (X >> trail[:, None]).astype(">u8").view(np.uint8).reshape(m, X.shape[1], 8)
    u0 = U[:, :1].astype("<u8").view(np.uint8)
    out: list[bytes] = [b""] * m
    for c, w, rows in _groups(counts, wb):
        blocklen = 5 if c == 0 else 13 if c == 1 else 15 + (c - 1) * w
        buf = np.empty((len(rows), blocklen), dtype=np.uint8)
        buf[:, 0] = _MAGIC_FLOAT
        buf[:, 1:5] = np.frombuffer(struct.pack("<I", c), np.uint8)
        if c >= 1:
            buf[:, 5:13] = u0[rows]
        if c >= 2:
            buf[:, 13] = trail[rows]
            buf[:, 14] = 8 * w
            buf[:, 15:] = B[rows, :c - 1, 8 - w:].reshape(len(rows), -1)
        raw = buf.tobytes()
        for i, r in enumerate(rows):
            out[r] = raw[i * blocklen:(i + 1) * blocklen]
    return out


def decompress_float_rows(blocks: list[bytes]) -> list[np.ndarray]:
    """Decode many :func:`compress_float_rows` blocks, bit-exactly.

    All headers are read at once from the blocks' concatenation and the
    values rebuilt in a handful of numpy ops per (count, byte width)
    group, each row shifted by its own trail — the tier cascade decodes
    ~10 tiny blocks per parent window, so per-block work would dominate
    the stage. Raises ``ValueError`` on a block that is not a float
    block, whose window is not 0-8 whole bytes above a 0-63 bit trail,
    or whose length does not match its header.
    """
    m = len(blocks)
    lens = np.fromiter(map(len, blocks), dtype=np.int64, count=m)
    offs = np.zeros(m, dtype=np.int64)
    np.cumsum(lens[:-1], out=offs[1:])
    # zero tail: a short block's absent header fields read as zeros
    buf = np.frombuffer(b"".join(blocks) + bytes(15), dtype=np.uint8)
    hdr = buf[offs[:, None] + np.arange(15)]
    if (hdr[:, 0] != _MAGIC_FLOAT).any():
        raise ValueError("not a float block")
    n = hdr[:, 1:5].copy().view("<u4")[:, 0].astype(np.int64)
    trail, width = (np.where(n >= 2, hdr[:, j], 0).astype(np.int64)
                    for j in (13, 14))
    if (width % 8).any() or (width > 64).any() or (trail > 63).any():
        raise ValueError("float block window is not 0-8 whole bytes above "
                         "a trail of 0-63 bits")
    wb = width // 8
    if (lens != np.where(n == 0, 5, np.where(n == 1, 13, 15 + (n - 1) * wb))).any():
        raise ValueError("float block length does not match its header")
    u0 = hdr[:, 5:13].copy().view("<u8")[:, 0]
    trail = trail.astype(np.uint64)
    out: list = [None] * m
    for c, w, rows in _groups(n, wb):
        u = np.empty((len(rows), c), dtype=np.uint64)
        if c >= 1:
            u[:, 0] = u0[rows]
        if c >= 2:
            by = buf[offs[rows, None] + 15 + np.arange((c - 1) * w)]
            by = by.reshape(len(rows), c - 1, w)
            xored = np.zeros((len(rows), c - 1), dtype=np.uint64)
            for k in range(w):
                xored = (xored << np.uint64(8)) | by[:, :, k]
            xored <<= trail[rows, None]
            # XOR prefix-scan: u[i] = u0 ^ xored[0] ^ ... ^ xored[i-1]
            np.bitwise_xor.accumulate(xored, axis=1, out=xored)
            u[:, 1:] = u[:, :1] ^ xored
        f = u.view(np.float64)
        for j, i in enumerate(rows):
            out[i] = f[j]
    return out
