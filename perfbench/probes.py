"""In-process microprobes: the tier-0 kernels, their shared supers and
the Gorilla codec timed on one thread over a seeded window batch, with
no Spark in the way. Set next to the end-to-end tier-0 rate they give
the kernel-alone vs end-to-end gap a number in every run."""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

from tsf import gorilla
from tsf import kernels as K
from tsf.registry import default_rollup_features
from tsf.rollup import _assemble_windows
from tsf.windows import DEFAULT_WINDOW, TIER_FACTOR

#: shared intermediates in dependency order, so each timed ``ctx.get``
#: computes only itself (its inputs are already cached): self time
SUPERS = ("mask", "sum", "sumsq", "mean", "std", "demeaned", "z",
          "z_range", "z_finite", "xnan", "acf_denom", "acf", "pacf")
#: supers reported by name
REPORTED_SUPERS = ("mean", "std", "acf", "pacf", "acf_denom", "z")
#: leaves that do heavy work of their own after their supers are cached
HEAVY_LEAVES = ("rad", "rad_raw", "histmode5", "histmode10",
                "acf_timescale")
REPS = 3


def window_batch(corpus_path: str, n_windows: int,
                 rng: np.random.Generator):
    """A seeded batch of tier-0 windows cut from the corpus' own docs,
    reading corpus files in a seeded order until the batch is full."""
    files = sorted(f for f in os.listdir(corpus_path)
                   if f.endswith(".parquet"))
    arrs, total = [], 0
    for i in rng.permutation(len(files)):
        col = pq.read_table(os.path.join(corpus_path, files[i]),
                            columns=["tokens"]).column("tokens")
        col = col.combine_chunks()
        offs, vals = col.offsets.to_numpy(), col.values.to_numpy()
        for lo, hi in zip(offs[:-1], offs[1:]):
            arrs.append(vals[lo:hi])
            total += -(-int(hi - lo) // DEFAULT_WINDOW)
        if total >= n_windows:
            break
    M, n, _, _ = _assemble_windows(arrs, DEFAULT_WINDOW)
    return M[:n_windows], n[:n_windows]


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def kernel_probe(M: np.ndarray, n: np.ndarray) -> dict[str, float]:
    """Per-layer metrics of the registry, kernel and Gorilla layers."""
    fs = default_rollup_features()
    nw = M.shape[0]
    out: dict[str, list[float]] = {}

    def add(key, v):
        out.setdefault(key, []).append(v)

    req = {"acf": 10, "pacf": 5}
    for _ in range(REPS):
        add("registry.evaluate_windows_per_s",
            nw / timed(lambda: fs.evaluate(M, n)))
        ctx = K.WindowCtx(M, n, req=req)
        for name in SUPERS:
            dt = timed(lambda: ctx.get(name))
            if name in REPORTED_SUPERS:
                add(f"kernels.{name}_s", dt)
        for name in HEAVY_LEAVES:
            add(f"kernels.{name}_s", timed(lambda: fs[name].method(ctx)))
        add("kernels.decade_means_s",
            timed(lambda: K.decade_means(M, n, TIER_FACTOR)))
        dec, _ = K.decade_means(M, n, TIER_FACTOR)
        ndec = -(-n // TIER_FACTOR)
        raw_mb = float(ndec.sum()) * 8 / 1e6
        blocks: list[bytes] = []
        add("gorilla.compress_mb_per_s",
            raw_mb / timed(lambda: blocks.extend(
                gorilla.compress_float_rows(dec, ndec))))
        add("gorilla.decompress_mb_per_s",
            raw_mb / timed(lambda: gorilla.decompress_float_rows(blocks)))
        add("gorilla.bytes_per_point",
            sum(len(b) for b in blocks) / float(ndec.sum()))
    return {k: statistics.median(v) for k, v in out.items()}
