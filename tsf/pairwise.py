"""Two-series (super-)pairwise features.

Reference surface (clean-room re-expression):

- ``PPC(x, y) = PPC(y .- x)`` and ``PLV(x, y) = PLV(y .- x)`` — pairwise
  phase synchrony of the phase-DIFFERENCE series
  (``/root/reference/ext/DSPExt.jl:26-31,41-44``).
- ``SuperPairwiseFeature``: the shared transform (analytic phase) is
  computed ONCE per series, then the pairwise leaf runs over the N x N
  product of the collection (``/root/reference/src/PairwiseFeatures.jl:
  23,48-60``, exercised by ``test/runtests.jl:569-586``).

Spark-first shape: one ``mapInPandas`` pass computes each (doc, window)'s
analytic-phase cos/sin arrays (the "super", once per series — never per
pair), then a self-equi-join on (source, window_id) pairs same-source
windows and JVM ``zip_with`` dot products produce the phase-difference
sums:

    cos(py - px) = cos(py)cos(px) + sin(py)sin(px)
    sin(py - px) = sin(py)cos(px) - cos(py)sin(px)

so with C = sum_t cos(delta_t), S = sum_t sin(delta_t) over a FULL window
of N points:

    PLV = sqrt(C^2 + S^2) / N                       (ext/DSPExt.jl:36-40)
    PPC = (C^2 + S^2 - N) / (N (N - 1))             (Vinck 2010 eq. 14 via
                                                     the O(N) closed form)

The join is an equi-join on (source, window_id): each pair's overlap is a
co-located group, the N x N product exists only within a source (the
reference's collection = our source), and no token ever re-shuffles —
only W-double cos/sin arrays.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from tsf.caching import scoped_persist
from tsf.kernels import WindowCtx
from tsf.rollup import _windows_of_chunks
from tsf.similarity import _dot
from tsf.windows import DEFAULT_CHUNK_WINDOWS, chunk_sequences


def pairwise_phase_sync(seq: DataFrame, window: int = 100,
                        min_windows: int = 1) -> DataFrame:
    """PLV(x,y) / PPC(x,y) for every same-source doc pair, averaged over
    the pair's aligned full windows (one window per short doc, so for the
    reference's whole-series semantics pick window >= series length).

    Thin wrapper over :func:`pairwise_features` — one super pass (the
    analytic phase, computed once per series), one join."""
    return pairwise_features(seq, ("plv", "ppc"), window=window,
                             min_windows=min_windows)


# --------------------------------------------------------------------------
# MI_Kraskov_NN_20 — pairwise mutual information, KSG estimator 1
# (reference: ext/AssociationsExt.jl:5-10 binds PairwiseFeature
# association(KSG1(; k=20), x, y); algorithm from the public paper
# Kraskov, Stoegbauer & Grassberger 2004, Phys Rev E 69 066138, eq. 8).
# --------------------------------------------------------------------------

def _digamma(x: np.ndarray) -> np.ndarray:
    """Vectorized digamma for x >= 1 (counts+1): upward recurrence to
    x >= 8, then the standard asymptotic series — |err| < 1e-12 there."""
    x = np.asarray(x, dtype=np.float64).copy()
    out = np.zeros_like(x)
    for _ in range(8):  # psi(x) = psi(x+1) - 1/x until x >= 8
        small = x < 8.0
        if not small.any():
            break
        out[small] -= 1.0 / x[small]
        x[small] += 1.0
    inv2 = 1.0 / (x * x)
    out += (np.log(x) - 0.5 / x
            - inv2 * (1.0 / 12.0 - inv2 * (1.0 / 120.0 - inv2 / 252.0)))
    return out


def ksg1_mi_batch(X: np.ndarray, Y: np.ndarray, k: int = 20,
                  assume_int: bool = False) -> np.ndarray:
    """KSG1 mutual information for B aligned pairs at once.

    X, Y: (B, N) float64. Per pair: eps_i = max-norm distance to the k-th
    nearest joint-space neighbour of point i (self excluded); n_x(i) =
    #{j != i : |x_i-x_j| < eps_i}, n_y likewise; MI = psi(k) + psi(N)
    - mean_i[psi(n_x+1) + psi(n_y+1)] (KSG 2004 eq. 8, natural log).
    O(B N^2) time / memory — callers bound B so B*N^2 stays ~1e7.

    ``assume_int``: caller guarantees X/Y hold integer values < 2^30
    (token series) — the distance tensors then run as int32 (half the
    memory traffic of float64 through the O(B N^2) broadcasting,
    partition and count passes). Distances, the k-th order statistic
    and the strict-< counts are exact integers either way, so the
    result is bit-identical to the float64 path (pytest-pinned)."""
    B, N = X.shape
    if N <= k:
        return np.full(B, np.nan)
    if assume_int:
        X = X.astype(np.int32)
        Y = Y.astype(np.int32)
    if N * N > 4_000_000:
        # (B, N, N) tensors for large windows blow past cache AND RAM
        # (N=5000 -> 200 MB per tensor); row-chunk each pair instead:
        # O(chunk * N) memory, same strict-< counting, identical values
        # (pinned by test against this dense path on mid-size N)
        return np.array([_ksg1_mi_single_chunked(X[i], Y[i], k)
                         for i in range(B)])
    dx = np.abs(X[:, :, None] - X[:, None, :])
    dy = np.abs(Y[:, :, None] - Y[:, None, :])
    dz = np.maximum(dx, dy)
    ii = np.arange(N)
    # exclude self from the kNN search; int path uses the dtype max as
    # the +inf sentinel (N > k guarantees the k-th order statistic is a
    # real neighbour distance, never the sentinel)
    dz[:, ii, ii] = (np.iinfo(dz.dtype).max
                     if np.issubdtype(dz.dtype, np.integer) else np.inf)
    eps = np.partition(dz, k - 1, axis=2)[:, :, k - 1][:, :, None]
    # eps == 0 means >= k points share this point's exact (x, y) joint
    # value — the estimator's continuous-density assumption collapsed
    # (discrete / constant data). Counting would go negative there
    # (self is only inside the strict ball when eps > 0) and digamma(0)
    # diverges; per the engine's NaN-for-degenerate-input stance the
    # whole pair reports NaN.
    degenerate = (eps[:, :, 0] == 0).any(axis=1)
    # strict < eps; subtract the self-match (dx[i,i] = 0 < eps for every
    # non-degenerate point)
    nx = np.maximum((dx < eps).sum(axis=2) - 1, 0)
    ny = np.maximum((dy < eps).sum(axis=2) - 1, 0)
    mi = (_digamma(np.array([float(k)])) + _digamma(np.array([float(N)]))
          - (_digamma(nx + 1.0) + _digamma(ny + 1.0)).mean(axis=1))
    mi[degenerate] = np.nan
    return mi


def _ksg1_mi_single_chunked(x: np.ndarray, y: np.ndarray, k: int,
                            chunk: int = 256) -> float:
    """One pair, row-chunked KSG1: memory O(chunk * N), values identical
    to the dense path (same eps, same strict-< counts)."""
    N = x.size
    s = 0.0
    degenerate = False
    for lo in range(0, N, chunk):
        hi = min(lo + chunk, N)
        dx = np.abs(x[lo:hi, None] - x[None, :])
        dy = np.abs(y[lo:hi, None] - y[None, :])
        dz = np.maximum(dx, dy)
        rows = np.arange(lo, hi)
        dz[rows - lo, rows] = (np.iinfo(dz.dtype).max  # exclude self
                               if np.issubdtype(dz.dtype, np.integer)
                               else np.inf)
        eps = np.partition(dz, k - 1, axis=1)[:, k - 1][:, None]
        if (eps[:, 0] == 0).any():
            degenerate = True
            break
        nx = (dx < eps).sum(axis=1) - 1
        ny = (dy < eps).sum(axis=1) - 1
        s += (_digamma(nx + 1.0) + _digamma(ny + 1.0)).sum()
    if degenerate:
        return float("nan")
    return float(_digamma(np.array([float(k)]))[0]
                 + _digamma(np.array([float(N)]))[0] - s / N)


def pairwise_mi(seq: DataFrame, window: int = 100, k: int = 20,
                min_windows: int = 1,
                num_partitions: int | None = None) -> DataFrame:
    """MI_Kraskov_NN_20 for every same-source doc pair, averaged over the
    pair's aligned full windows. Thin wrapper over
    :func:`pairwise_features` (one super pass, one join, one Arrow
    kernel pass)."""
    return pairwise_features(seq, ("mi",), window=window, k_mi=k,
                             min_windows=min_windows,
                             num_partitions=num_partitions)


# --------------------------------------------------------------------------
# SuperPairwiseFeatureSet evaluation — the reference evaluates a SET of
# pairwise features over a collection with each shared transform computed
# once per series (src/PairwiseFeatures.jl:48-60, src/SuperFeatures.jl:
# 96-110, exercised over sets by test/runtests.jl:569-586). Engine shape:
# ONE super pass per series window (analytic phase + token sufficient
# stats), ONE self-equi-join, all leaves evaluated on the joined row —
# instead of one join per feature.
# --------------------------------------------------------------------------

PAIRWISE_FEATURES = ("pearson", "cov", "plv", "ppc", "mi")


def make_super_fn(W: int, need_phase: bool, need_toks: bool):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M, n, doc, src, window_id = _windows_of_chunks(pdf, W)
            full = n == W  # pairwise features need aligned full windows
            if not full.any():
                continue
            Mf = M[full]
            out = {"doc_id": doc[full], "source": src[full],
                   "window_id": window_id[full]}
            if need_phase:
                ph = WindowCtx(Mf, n[full]).get("analytic_phase")
                out["c"], out["s"] = list(np.cos(ph)), list(np.sin(ph))
            if need_toks:
                out["t"] = list(Mf)
                out["sm"] = Mf.sum(axis=1)
                out["sq"] = (Mf * Mf).sum(axis=1)
            yield pd.DataFrame(out)
    return fn


def pairwise_features(seq: DataFrame,
                      features: tuple[str, ...] = PAIRWISE_FEATURES,
                      window: int = 100, k_mi: int = 20,
                      min_windows: int = 1,
                      num_partitions: int | None = None) -> DataFrame:
    """Evaluate a set of pairwise features over every same-source doc
    pair in one pass, averaged over the pair's aligned full windows.

    ``n_windows`` counts ALIGNED windows; per SQL avg semantics each
    feature's average skips windows where it is undefined (constant
    window -> NULL pearson, degenerate joint values -> NULL mi), and is
    NULL when no window defines it.

    Supers run once per (doc, window) — never per pair — and every
    requested leaf shares a single self-equi-join on (source, window_id):
    plv/ppc/pearson/cov are JVM dot-product closed forms on the joined
    row; mi (KSG1) is one Arrow kernel pass appended to the same plan.
    Identical values to the single-feature operators (pytest-pinned)."""
    bad = set(features) - set(PAIRWISE_FEATURES)
    if bad:
        raise ValueError(f"unknown pairwise features: {sorted(bad)}")
    need_phase = bool({"plv", "ppc"} & set(features))
    need_toks = bool({"pearson", "cov", "mi"} & set(features))
    W = int(window)
    # pushdown: docs shorter than one window can never produce a full
    # aligned window — drop them JVM-side before any Arrow transfer.
    # size(tokens), not n_tok: the windowing layer derives everything
    # from the array itself so a stale/corrupt n_tok column cannot
    # silently exclude a doc (chunk_sequences' documented stance)
    chunked = chunk_sequences(seq.where(F.size("tokens") >= W), W,
                              DEFAULT_CHUNK_WINDOWS)
    schema = "doc_id string, source string, window_id bigint"
    if need_phase:
        schema += ", c array<double>, s array<double>"
    if need_toks:
        schema += ", t array<double>, sm double, sq double"
    # the super-window frame feeds both self-join sides (scoped persist:
    # released by the caller's persist_scope after the terminal action)
    sw = scoped_persist(chunked.mapInPandas(
        make_super_fn(W, need_phase, need_toks), schema))
    a, b = sw.alias("a"), sw.alias("b")
    joined = a.join(b, (F.col("a.source") == F.col("b.source"))
                    & (F.col("a.window_id") == F.col("b.window_id"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
    n = float(W)
    cols = [F.col("a.source").alias("source"),
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b")]
    if need_phase:
        C = (F.expr(_dot("b.c", "a.c")) + F.expr(_dot("b.s", "a.s")))
        S = (F.expr(_dot("b.s", "a.c")) - F.expr(_dot("b.c", "a.s")))
        r2 = C * C + S * S
        if "plv" in features:
            cols.append((F.sqrt(r2) / F.lit(n)).alias("plv"))
        if "ppc" in features:
            cols.append(((r2 - F.lit(n)) / F.lit(n * (n - 1.0)))
                        .alias("ppc"))
    if {"pearson", "cov"} & set(features):
        dab = F.expr(_dot("a.t", "b.t"))
        sa, sb = F.col("a.sm"), F.col("b.sm")
        qa, qb = F.col("a.sq"), F.col("b.sq")
        if "cov" in features:
            cols.append(((dab - sa * sb / F.lit(n)) / F.lit(n - 1.0))
                        .alias("cov"))
        if "pearson" in features:
            # nullif: a constant window (zero variance — e.g. a pad-token
            # run) yields NULL per the documented contract and the pair
            # avg skips it, instead of ANSI DIVIDE_BY_ZERO aborting the job
            cols.append(((F.lit(n) * dab - sa * sb)
                         / F.nullif(
                             F.sqrt((F.lit(n) * qa - sa * sa)
                                    * (F.lit(n) * qb - sb * sb)),
                             F.lit(0.0)))
                        .alias("pearson"))
    if "mi" in features:
        cols += [F.col("a.t").alias("ta"), F.col("b.t").alias("tb")]
    pairs = joined.select(*cols)
    feat_names = [f for f in PAIRWISE_FEATURES if f in features]
    if "mi" in features:
        if num_partitions is None:
            num_partitions = int(pairs.sparkSession.conf.get(
                "spark.sql.shuffle.partitions", "64"))
        pairs = pairs.repartition(num_partitions, "doc_a", "doc_b", "source")
        block = max(4, int(5e5) // (W * W))
        passthru = [f for f in feat_names if f != "mi"]

        def mi_set_fn(batches: Iterator[pd.DataFrame]) \
                -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mis = np.empty(len(pdf), dtype=np.float64)
                for lo in range(0, len(pdf), block):
                    sub = pdf.iloc[lo:lo + block]
                    # token windows are integers riding in float64 —
                    # the int32 distance path is bit-identical and
                    # halves the O(B W^2) tensor traffic
                    mis[lo:lo + len(sub)] = ksg1_mi_batch(
                        np.stack(sub["ta"].to_numpy()),
                        np.stack(sub["tb"].to_numpy()), int(k_mi),
                        assume_int=True)
                out = {c: pdf[c] for c in
                       ["source", "doc_a", "doc_b"] + passthru}
                out["mi"] = mis
                yield pd.DataFrame(out)

        out_schema = ("source string, doc_a string, doc_b string, "
                      + ", ".join(f"{c} double" for c in passthru)
                      + (", " if passthru else "") + "mi double")
        pairs = pairs.mapInPandas(mi_set_fn, out_schema)
    return (pairs.groupBy("source", "doc_a", "doc_b")
            .agg(F.count("*").alias("n_windows"),
                 *[F.round(F.avg(f), 6).alias(f) for f in feat_names])
            .where(F.col("n_windows") >= min_windows))


def pairwise_super_check(seq: DataFrame, window: int = 64) -> DataFrame:
    """SQL-replayable twin of the SuperPairwise spine: the SAME super
    pass (:func:`make_super_fn`) and the SAME self-equi-join as
    :func:`pairwise_features`, but reporting EXACT integer sufficient
    statistics per pair (aligned-window count; sums over aligned windows
    of the cross dot product and each side's window sums) instead of
    float leaf averages. Token sums/products stay below 2^53, so every
    value is exact and order-free — a DuckDB oracle replays the chunked
    window extraction, the full-window filter, and the join alignment
    bit-for-bit. The Hilbert/KSG leaves (not SQL-expressible) share this
    exact spine, so a green hash here pins the plumbing under them."""
    W = int(window)
    chunked = chunk_sequences(seq.where(F.size("tokens") >= W), W,
                              DEFAULT_CHUNK_WINDOWS)
    schema = ("doc_id string, source string, window_id bigint, "
              "t array<double>, sm double, sq double")
    sw = scoped_persist(chunked.mapInPandas(
        make_super_fn(W, need_phase=False, need_toks=True), schema))
    a, b = sw.alias("a"), sw.alias("b")
    joined = a.join(b, (F.col("a.source") == F.col("b.source"))
                    & (F.col("a.window_id") == F.col("b.window_id"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
    dab = F.expr(_dot("a.t", "b.t"))
    return (joined.groupBy(F.col("a.source").alias("source"),
                           F.col("a.doc_id").alias("doc_a"),
                           F.col("b.doc_id").alias("doc_b"))
            .agg(F.count("*").alias("n_windows"),
                 F.sum(dab).cast("bigint").alias("s_dab"),
                 F.sum("a.sm").cast("bigint").alias("s_a"),
                 F.sum("b.sm").cast("bigint").alias("s_b"),
                 F.sum("a.sq").cast("bigint").alias("s_qa"),
                 F.sum("b.sq").cast("bigint").alias("s_qb")))


def pairwise_super_check_duckdb(seq_cte: str, window: int = 64) -> str:
    """DuckDB replay of :func:`pairwise_super_check`."""
    W = int(window)
    return f"""
    WITH seq AS ({seq_cte}),
    f AS (SELECT * FROM seq WHERE n_tok >= {W}),
    tok AS (SELECT doc_id, source, CAST(unnest(tokens) AS BIGINT) AS x,
                   generate_subscripts(tokens, 1) - 1 AS pos FROM f),
    w AS (SELECT doc_id, source, pos // {W} AS window_id,
                 count(*) AS n, sum(x) AS sm, sum(x * x) AS sq,
                 list(x ORDER BY pos) AS t
          FROM tok GROUP BY 1, 2, 3 HAVING count(*) = {W})
    SELECT a.source AS source, a.doc_id AS doc_a, b.doc_id AS doc_b,
           count(*) AS n_windows,
           CAST(sum(list_dot_product(a.t, b.t)) AS BIGINT) AS s_dab,
           CAST(sum(a.sm) AS BIGINT) AS s_a,
           CAST(sum(b.sm) AS BIGINT) AS s_b,
           CAST(sum(a.sq) AS BIGINT) AS s_qa,
           CAST(sum(b.sq) AS BIGINT) AS s_qb
    FROM w a JOIN w b ON a.source = b.source
                     AND a.window_id = b.window_id
                     AND a.doc_id < b.doc_id
    GROUP BY 1, 2, 3
    """


# --------------------------------------------------------------------------
# Dynamic time warping — banded (Sakoe & Chiba 1978) integer DTW between
# the length-L heads of every same-source doc pair. Costs are |a_i - b_j|
# on BIGINT tokens, so the whole DP — and therefore the final distance —
# is EXACT integer arithmetic: bit-identical across engines, cluster
# sizes, and partitionings. Out-of-band cells are clamped to exactly
# INF = 10^15 every row (both engines), so band semantics replay
# bit-for-bit in the DuckDB recursive-CTE oracle.
# --------------------------------------------------------------------------

DTW_INF = 10 ** 15


def dtw_batch(A: np.ndarray, B: np.ndarray, radius: int) -> np.ndarray:
    """Banded DTW for a batch of aligned pairs.

    A, B: (nb, L) int64 — equal-length series (the operator slices
    doc heads to a fixed L). Returns (nb,) int64 exact costs. The DP
    runs row-by-row vectorized across the batch: O(L^2) numpy ops of
    width nb, never a per-pair python loop over cells."""
    A = np.asarray(A, dtype=np.int64)
    B = np.asarray(B, dtype=np.int64)
    nb, L = A.shape
    r = int(radius)
    if r < 1:
        raise ValueError("radius must be >= 1")
    D = np.full((nb, L), DTW_INF, dtype=np.int64)
    c0 = np.abs(A[:, 0:1] - B)
    D[:, 0] = c0[:, 0]
    for j in range(1, min(r, L - 1) + 1):
        D[:, j] = np.minimum(D[:, j - 1] + c0[:, j], DTW_INF)
    for i in range(1, L):
        P = D
        D = np.full((nb, L), DTW_INF, dtype=np.int64)
        ci = np.abs(A[:, i:i + 1] - B)
        for j in range(max(0, i - r), min(L - 1, i + r) + 1):
            best = P[:, j]
            if j > 0:
                best = np.minimum(best, P[:, j - 1])
                best = np.minimum(best, D[:, j - 1])
            D[:, j] = np.minimum(ci[:, j] + best, DTW_INF)
    return D[:, L - 1]


def pairwise_dtw(seq: DataFrame, length: int = 24, radius: int = 6,
                 num_partitions: int | None = None) -> DataFrame:
    """Banded DTW distance between the first ``length`` tokens of every
    same-source doc pair (the N x N-within-collection product is the
    reference's pairwise semantics, src/PairwiseFeatures.jl:48-60; DTW
    itself is the beyond-reference timeseries shelf).

    Scale shape (100 TB): heads are a row-local slice (tokens never
    shuffle at full length — L BIGINTs per doc cross the one source
    equi-join), the self-join is an equi-join on source (no cartesian),
    and the DP runs as ONE Arrow kernel pass after an explicit pair
    repartition, vectorized across the batch. Cost is exact BIGINT —
    partitioning-invariant by construction."""
    L, r = int(length), int(radius)
    heads = (seq.where(F.size("tokens") >= L)
             .select("doc_id", "source",
                     F.expr(f"transform(slice(tokens, 1, {L}), "
                            "x -> CAST(x AS BIGINT))").alias("h")))
    a, b = heads.alias("a"), heads.alias("b")
    pairs = (a.join(b, (F.col("a.source") == F.col("b.source"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.source").alias("source"),
                     F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"),
                     F.col("a.h").alias("ha"), F.col("b.h").alias("hb")))
    if num_partitions is None:
        num_partitions = int(pairs.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "64"))
    pairs = pairs.repartition(num_partitions, "doc_a", "doc_b", "source")

    def dtw_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cost = dtw_batch(np.stack(pdf["ha"].to_numpy()),
                             np.stack(pdf["hb"].to_numpy()), r)
            yield pd.DataFrame({"source": pdf["source"],
                                "doc_a": pdf["doc_a"],
                                "doc_b": pdf["doc_b"],
                                "dtw_cost": cost})

    return pairs.mapInPandas(
        dtw_fn, "source string, doc_a string, doc_b string, "
                "dtw_cost bigint")


def pairwise_dtw_duckdb(seq_cte: str, length: int = 24, radius: int = 6,
                        where: str = "TRUE") -> str:
    """DuckDB replay of :func:`pairwise_dtw` as a recursive CTE: one
    iteration per DP row, the whole row carried as a LIST per pair.
    The within-row recurrence D(i,j) = c + min(D(i-1,j), D(i-1,j-1),
    D(i,j-1)) is applied in its unrolled closed form

        D(i, j) = C(j) + min_{j0 <= j} ( min(P[j0], P[j0-1]) - C(j0-1) )

    (C = prefix sums of row i's costs, P = row i-1) — exact integer
    algebra, identical to the engine's clamped DP for every in-band
    cell (out-of-band cells are clamped to exactly INF in BOTH engines
    each row, and an INF-sourced entry exceeds any real path by >= 8
    orders of magnitude, so it never wins a min)."""
    L, r, INF = int(length), int(radius), DTW_INF
    base_row = (f"list_transform(range(1, {L + 1}), j -> "
                f"CASE WHEN j - 1 > {r} THEN CAST({INF} AS BIGINT) "
                f"ELSE least(CAST({INF} AS BIGINT), "
                f"COALESCE(list_sum(list_transform(range(1, j + 1), "
                f"t -> abs(ha[1] - hb[t]))), 0)) END)")
    step_row = (
        f"list_transform(range(1, {L + 1}), j -> "
        f"CASE WHEN abs(i + 1 - j) > {r} THEN CAST({INF} AS BIGINT) "
        f"ELSE least(CAST({INF} AS BIGINT), "
        f"COALESCE(list_sum(list_transform(range(1, j + 1), "
        f"t -> abs(ha[i + 1] - hb[t]))), 0) "
        f"+ list_min(list_transform(range(1, j + 1), j0 -> "
        f"least(row[j0], CASE WHEN j0 >= 2 THEN row[j0 - 1] "
        f"ELSE CAST({2 * INF} AS BIGINT) END) "
        f"- COALESCE(list_sum(list_transform(range(1, j0), "
        f"t -> abs(ha[i + 1] - hb[t]))), 0)))) END)")
    return f"""
    WITH RECURSIVE seq AS ({seq_cte}),
    heads AS (SELECT doc_id, source,
                     list_transform(tokens[1:{L}],
                                    zx -> CAST(zx AS BIGINT)) AS h
              FROM seq WHERE n_tok >= {L} AND ({where})),
    p AS (SELECT a.source AS source, a.doc_id AS doc_a,
                 b.doc_id AS doc_b, a.h AS ha, b.h AS hb
          FROM heads a JOIN heads b
            ON a.source = b.source AND a.doc_id < b.doc_id),
    dp AS (
      SELECT source, doc_a, doc_b, ha, hb, 1 AS i, {base_row} AS row
      FROM p
      UNION ALL
      SELECT source, doc_a, doc_b, ha, hb, i + 1, {step_row} AS row
      FROM dp WHERE i < {L}
    )
    SELECT source, doc_a, doc_b, CAST(row[{L}] AS BIGINT) AS dtw_cost
    FROM dp WHERE i = {L}
    """
