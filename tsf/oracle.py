"""Single-machine numpy reference pipeline — the engine's "StatsBase".

Recomputes the full tier cascade for a sequences table with plain numpy,
independent of Spark partitioning/chunking, using the same kernel module.
pytest asserts the distributed results equal this **bit-exactly** at every
retention tier (the reference's own precedent: exact `==` between slow and
fast paths, /root/reference/test/runtests.jl:421-445).

Bit-exactness holds because every feature is a pure per-(doc, window)
float64 functional of a deterministic token slice: no cross-partition
float reduction exists anywhere in the rollup path (SURVEY.md §7 "What's
hard"). This module is intentionally the *naive* implementation: one doc
at a time, no chunking — so it also proves chunked/salted execution does
not change results.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from tsf import kernels as K
from tsf.registry import FeatureSet, default_rollup_features
from tsf.windows import TIER_FACTOR


def oracle_cascade(seq_pdf: pd.DataFrame, W: int = 100, tiers: int = 3,
                   features: FeatureSet | None = None) -> pd.DataFrame:
    """Full cascade for a pandas sequences table -> long rollup frame with
    the same columns as tsf.rollup (minus the binary block column)."""
    features = features or default_rollup_features()
    out_rows = []

    def emit(doc_id, source, tier, series: np.ndarray):
        """Roll one (possibly downsampled) series at `tier`; return the
        next tier's input series (the concatenated decade means)."""
        L = series.size
        if L == 0:
            return np.empty(0)
        nw = -(-L // W)
        M = np.zeros((nw, W))
        n = np.zeros(nw, dtype=np.int64)
        for w in range(nw):
            seg = series[w * W:(w + 1) * W]
            M[w, :seg.size] = seg
            n[w] = seg.size
        feats = features.evaluate(M, n)
        span = W * TIER_FACTOR ** tier
        for w in range(nw):
            row = {"doc_id": doc_id, "source": source, "tier": tier,
                   "window_id": w, "win_start": w * span}
            for name in features.names:
                row[name] = feats[name][w]
            out_rows.append(row)
        # next tier input: decade means, exactly as the engine stores them
        # (compress -> decompress round-trip is bit-exact, so skip it here;
        # tests verify the round-trip separately)
        dec, cnts = K.decade_means(M, n, TIER_FACTOR)
        keep = cnts > 0
        return dec[keep]

    for _, r in seq_pdf.iterrows():
        series = np.asarray(r["tokens"], dtype=np.float64)
        for t in range(tiers):
            series = emit(r["doc_id"], r["source"], t, series)
    return pd.DataFrame(out_rows)
