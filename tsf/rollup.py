"""Tier rollup: tier-0 windows over raw tokens; higher tiers derived from
lower-tier compressed blocks (segment-tree layout — never re-reads raw
tokens, per the north rule).

Tier semantics (SURVEY.md §2.f/§2.g): tier ``t`` sees the series
downsampled ``10^t``x (hierarchical means: each tier-t point is the mean
of 10 tier-(t-1) points); every tier uses the same window of ``W`` points
in its own units, so a tier-t window covers ``W * 10^t`` raw tokens.
A tier row stores its window's feature values plus a Gorilla-compressed
block of its 10-point group means ("decades") — exactly the points the
next tier consumes.

Execution shape:

- tier 0: chunked sequences -> ``mapInPandas`` (one vectorized kernel per
  Arrow batch; windows from all rows of the batch are stacked into ONE
  numpy matrix so every feature is computed in a handful of matrix ops).
- tier N+1: ``groupBy(doc, parent_window)`` with JVM-side
  ``sort_array(collect_list(struct(window_id, block)))`` — a bounded
  10-row group — then ``mapInPandas`` to decompress + evaluate. The
  shuffle moves only compressed blocks (~80 bytes/row), not tokens.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from tsf import gorilla
from tsf import kernels as K
from tsf.kernels import decade_means
from tsf.registry import FeatureSet, default_rollup_features
from tsf.windows import DEFAULT_CHUNK_WINDOWS, DEFAULT_WINDOW, TIER_FACTOR, chunk_sequences

META_COLS = "doc_id string, source string, tier int, window_id bigint, win_start bigint"


#: Spark SQL type per supported feature-output dtype (the reference's
#: return_type argument, src/FeatureArrays.jl:217-222)
_SQL_TYPE = {np.dtype(np.float64): "double", np.dtype(np.float32): "float"}


def rollup_schema(features: FeatureSet, blocks: bool = True,
                  return_type=None) -> str:
    t = _SQL_TYPE[np.dtype(return_type or np.float64)]
    s = META_COLS + ", " + ", ".join(f"{n} {t}" for n in features.names)
    if blocks:
        s += ", values_gorilla binary"
    return s


def _assemble_windows(arrs, W: int):
    """Stack ragged per-row token arrays into one zero-padded window matrix.

    Returns (M (total_windows, W) float64, n (total_windows,) lengths,
    row_of_window, local_window_index). One numpy slice-copy per batch ROW
    (a few hundred per Arrow batch — not per token/window): each row's
    tokens land directly in its window block, with no flat concatenation
    or scatter-index arrays (those streamed ~3x the token bytes in extra
    DRAM traffic, which dominated multi-worker scaling).
    """
    nrows = len(arrs)
    lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=nrows)
    nwin = -(-lens // W)  # ceil; 0 windows for empty docs
    total = int(nwin.sum())
    M = np.zeros((total, W), dtype=np.float64)
    n = np.zeros(total, dtype=np.int64)
    if total == 0:
        return M, n, np.zeros(0, np.int64), np.zeros(0, np.int64)
    win_base = np.zeros(nrows, dtype=np.int64)
    np.cumsum(nwin[:-1], out=win_base[1:])
    flatM = M.ravel()
    for i in range(nrows):
        li = lens[i]
        if li:
            off = win_base[i] * W
            flatM[off:off + li] = arrs[i]
    row_of_win = np.repeat(np.arange(nrows), nwin)
    local_w = np.arange(total) - np.repeat(win_base, nwin)
    n[:] = np.minimum(W, np.repeat(lens, nwin) - local_w * W)
    return M, n, row_of_win, local_w


def _windows_of_chunks(pdf: pd.DataFrame, W: int):
    """The window identity every tier-0 producer shares: one Arrow batch
    of :func:`tsf.windows.chunk_sequences` rows -> ``(M, n, doc_id,
    source, window_id)`` per window. Chunks are window-aligned, so a
    window's global id is its chunk's offset in windows plus its index
    within the chunk."""
    M, n, row_of_win, local_w = _assemble_windows(pdf["chunk_toks"].tolist(), W)
    off = pdf["chunk_off"].to_numpy().astype(np.int64)
    return (M, n, pdf["doc_id"].to_numpy()[row_of_win],
            pdf["source"].to_numpy()[row_of_win],
            off[row_of_win] // W + local_w)


def _emit(doc, src, window_id, tier: int, W: int, features: FeatureSet,
          M, n, blocks: bool, return_type=None) -> pd.DataFrame:
    """One tier row per window: the ``META_COLS`` key (a tier-t window
    starts ``W * 10^t`` raw tokens after its predecessor), the feature
    values and, with ``blocks``, the Gorilla block of its decade means."""
    out = {"doc_id": doc, "source": src,
           "tier": np.full(M.shape[0], tier, dtype=np.int32),
           "window_id": window_id,
           "win_start": window_id * (W * TIER_FACTOR ** tier)}
    out.update(features.evaluate(M, n, return_type=return_type))
    if blocks:
        dec, cnts = decade_means(M, n, TIER_FACTOR)
        ndec = -(-n // TIER_FACTOR)
        out["values_gorilla"] = gorilla.compress_float_rows(dec, ndec)
    return pd.DataFrame(out)


def _check_block_window(W: int) -> None:
    """Blocks need ``W % TIER_FACTOR == 0``: then a tier-(t+1) window is
    exactly the decade means of ``TIER_FACTOR`` tier-t windows, and its
    ``window_id`` is their ``window_id // TIER_FACTOR``. At any other W a
    block ends in a short decade, ten children hold more than W points,
    and ``next_tier`` would emit several windows under one id."""
    if W % TIER_FACTOR:
        raise ValueError(f"window {W} is not a multiple of {TIER_FACTOR}: "
                         "tier blocks and next_tier need one")


def make_tier0_fn(features: FeatureSet, W: int, blocks: bool,
                  return_type=None):
    if blocks:
        _check_block_window(W)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M, n, doc, src, window_id = _windows_of_chunks(pdf, W)
            if M.shape[0] == 0:
                continue
            yield _emit(doc, src, window_id, 0, W, features, M, n, blocks,
                        return_type=return_type)
    return fn


def tier0(seq: DataFrame,
          features: FeatureSet | None = None,
          window: int = DEFAULT_WINDOW,
          chunk_windows: int = DEFAULT_CHUNK_WINDOWS,
          num_partitions: int | None = None,
          blocks: bool = True,
          return_type=None) -> DataFrame:
    """Tier-0 rollup of a sequences table (doc_id, tokens, n_tok, source).

    ``num_partitions``: hash-repartition the chunks on (doc_id,
    chunk_id) first — the salted key that spreads one long-tail doc's
    chunks over many tasks.

    ``return_type``: optional numpy dtype for the feature columns (e.g.
    ``np.float32`` halves rollup storage/shuffle width) — the
    reference's output-type conversion (src/FeatureArrays.jl:217-222);
    kernels still compute in float64.

    With ``blocks``, ``window`` must be a multiple of ``TIER_FACTOR``
    (``ValueError`` here, at plan construction, otherwise)."""
    features = features or default_rollup_features()
    chunked = chunk_sequences(seq, window, chunk_windows)
    if num_partitions:
        chunked = chunked.repartition(num_partitions, "doc_id", "chunk_id")
    return chunked.mapInPandas(
        make_tier0_fn(features, window, blocks, return_type=return_type),
        rollup_schema(features, blocks, return_type=return_type))


VECTOR_SCHEMA = ("doc_id string, source string, window_id bigint, "
                 "name string, values array<double>")

#: vector-valued features exposable via tier0_vectors — the reference's
#: Vector->Vector feature surface (z_score at src/TimeseriesFeatures.jl:
#: 25-27; Analytic_Signal/Phase/Amplitude at ext/DSPExt.jl:6-14; ACF/PACF
#: at src/StatsBase.jl:7-27). "analytic_signal" is emitted as two rows
#: (re/im) since Spark has no complex type.
VECTOR_FEATURES = ("z", "analytic_phase", "analytic_amplitude", "acf",
                   "pacf", "analytic_signal_re", "analytic_signal_im")


def make_vector_fn(W: int, names: tuple[str, ...]):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M, n, doc, src, window_id = _windows_of_chunks(pdf, W)
            if M.shape[0] == 0:
                continue
            ctx = K.WindowCtx(M, n)
            for name in names:
                if name == "analytic_signal_re":
                    V = ctx.get("analytic").real
                elif name == "analytic_signal_im":
                    V = ctx.get("analytic").imag
                else:
                    V = ctx.get(name)
                # trim each row's vector to its true length: n samples for
                # sample-aligned transforms, n-1 defined lags for the lag
                # features (lags 1..n-1; anything further is NaN padding)
                if name in ("acf", "pacf"):
                    lim = np.minimum(np.maximum(n - 1, 0), V.shape[1])
                else:
                    lim = np.minimum(n, V.shape[1])
                yield pd.DataFrame({
                    "doc_id": doc, "source": src, "window_id": window_id,
                    "name": name,
                    "values": [V[i, :lim[i]] for i in range(V.shape[0])],
                })
    return fn


def tier0_vectors(seq: DataFrame,
                  names: tuple[str, ...] = ("z", "analytic_amplitude"),
                  window: int = DEFAULT_WINDOW) -> DataFrame:
    """Vector-valued feature output surface: one row per (doc, window,
    feature) carrying the full transform vector — the reference's
    Vector->Vector features as first-class engine output."""
    bad = set(names) - set(VECTOR_FEATURES)
    if bad:
        raise KeyError(f"unknown vector features: {sorted(bad)}")
    return chunk_sequences(seq, window).mapInPandas(
        make_vector_fn(window, tuple(names)), VECTOR_SCHEMA)


def make_tierN_fn(features: FeatureSet, W: int, tier: int):
    _check_block_window(W)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # each row: list of {window_id, values_gorilla} structs, sorted.
            # Flatten every block in the batch and decode them in ONE
            # grouped-vectorized pass (per-block decode calls would be the
            # stage bottleneck), then reassemble per row.
            flat: list[bytes] = []
            counts = np.zeros(len(pdf), dtype=np.int64)
            for ri, row in enumerate(pdf["blocks"]):
                if row is not None and len(row) > 0:
                    counts[ri] = len(row)
                    flat.extend(bytes(b["values_gorilla"]) for b in row)
            dec = gorilla.decompress_float_rows(flat)
            arrs, pos = [], 0
            for c in counts:
                if c == 0:
                    arrs.append(np.empty(0))
                else:
                    arrs.append(np.concatenate(dec[pos:pos + c]))
                    pos += c
            M, n, row_of_win, _ = _assemble_windows(arrs, W)
            if M.shape[0] == 0:
                continue
            # a parent group holds <= TIER_FACTOR * (W/10) = W points: 1
            # window (W is a multiple of TIER_FACTOR, _check_block_window)
            yield _emit(pdf["doc_id"].to_numpy()[row_of_win],
                        pdf["source"].to_numpy()[row_of_win],
                        pdf["parent_id"].to_numpy().astype(np.int64)[row_of_win],
                        tier, W, features, M, n, blocks=True)
    return fn


def next_tier(prev: DataFrame,
              prev_tier: int,
              features: FeatureSet | None = None,
              window: int = DEFAULT_WINDOW) -> DataFrame:
    """Derive tier t+1 rows from tier t rows' compressed decade blocks.

    Shuffle key (doc_id, window_id // 10): bounded 10-row groups, so no
    skew regardless of doc length — long docs fan out across partitions.
    ``prev_tier`` is passed explicitly so plan construction stays lazy
    (no action on the input DataFrame). ``window`` must be a multiple of
    ``TIER_FACTOR`` (``ValueError`` otherwise).
    """
    features = features or default_rollup_features()
    grouped = (
        prev.groupBy("doc_id", "source",
                     F.expr(f"window_id div {TIER_FACTOR}").alias("parent_id"))
        .agg(F.sort_array(F.collect_list(
            F.struct("window_id", "values_gorilla"))).alias("blocks"))
    )
    return grouped.mapInPandas(make_tierN_fn(features, window, prev_tier + 1),
                               rollup_schema(features))


def cascade(seq: DataFrame, tiers: int = 3, features: FeatureSet | None = None,
            window: int = DEFAULT_WINDOW, **kw) -> list[DataFrame]:
    """[tier0, tier1, ..., tier_{tiers-1}] DataFrames (lazy)."""
    features = features or default_rollup_features()
    out = [tier0(seq, features, window, **kw)]
    for t in range(1, tiers):
        out.append(next_tier(out[-1], t - 1, features, window))
    return out


# --------------------------------------------------------------------------
# Whole-series evaluation — the reference's PRIMARY surface: a FeatureSet
# over each full (ragged) series (src/FeatureSets.jl:43-46 bulk call,
# src/FeatureArrays.jl:223-229 ragged collections). No windowing, no
# length cap.
# --------------------------------------------------------------------------

def series_schema(features: FeatureSet, return_type=None) -> str:
    t = _SQL_TYPE[np.dtype(return_type or np.float64)]
    return ("doc_id string, source string, n_tok int, "
            + ", ".join(f"{n} {t}" for n in features.names))


def _padded_batches(arrs, lens: np.ndarray, rows: np.ndarray,
                    max_batch_cells: int):
    """Yield ``(sel, M)``: the ``rows`` of ``arrs`` zero-padded into float
    matrices, ``sel`` indexing ``arrs``/``lens`` for each matrix row.

    Each doc's width is canonical, the next pow2 >= its length: numpy's
    pairwise-summation tree depends on the padded row width, so tying the
    width to the DOC (not the batch composition) keeps every value
    bit-identical under any partitioning / batch boundary (same
    discipline as the fixed-W tiers). Rows go in stable width order, at
    most ``max_batch_cells`` cells (and at least one row) per matrix:
    long-tail docs evaluate in small batches, short docs in large ones."""
    widths = np.maximum(1, 2 ** np.ceil(np.log2(
        np.maximum(lens, 1))).astype(np.int64))
    order = rows[np.argsort(widths[rows], kind="stable")]
    for bw in np.unique(widths[rows]):
        same = order[widths[order] == bw]
        step = max(1, int(max_batch_cells // bw))
        for lo in range(0, len(same), step):
            sel = same[lo:lo + step]
            M = np.zeros((len(sel), int(bw)))
            for i, ri in enumerate(sel):
                M[i, :lens[ri]] = arrs[ri]
            yield sel, M


def make_series_fn(features: FeatureSet, max_batch_cells: int,
                   return_type=None):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # measure lengths from the arrays themselves (same stance as
            # _assemble_windows) — a stale n_tok column must not corrupt
            # the padded matrix
            arrs = pdf["tokens"].tolist()
            lens = np.fromiter((len(a) for a in arrs),
                               dtype=np.int64, count=len(pdf))
            doc_id = pdf["doc_id"].to_numpy()
            source = pdf["source"].to_numpy()
            for sel, M in _padded_batches(arrs, lens, np.arange(len(pdf)),
                                          max_batch_cells):
                n = lens[sel]
                out = features.evaluate(M, n, return_type=return_type)
                res = {"doc_id": doc_id[sel], "source": source[sel],
                       "n_tok": n.astype(np.int32)}
                res.update(out)
                yield pd.DataFrame(res)
    return fn


def make_dim_stack_fn(features: FeatureSet, cols: tuple[str, ...],
                      max_batch_cells: int):
    names = features.names

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out: dict = {"doc_id": pdf["doc_id"].to_numpy(),
                         "source": pdf["source"].to_numpy()}
            for c in cols:
                arrs = pdf[c].tolist()
                lens = np.fromiter((len(a) for a in arrs),
                                   dtype=np.int64, count=len(pdf))
                res = {n: np.full(len(pdf), np.nan) for n in names}
                # the series_features batcher over the non-empty rows
                for sel, M in _padded_batches(arrs, lens,
                                              np.nonzero(lens > 0)[0],
                                              max_batch_cells):
                    for name, v in features.evaluate(M, lens[sel]).items():
                        res[name][sel] = v
                for name in names:
                    out[f"{c}_{name}"] = res[name]
            yield pd.DataFrame(out)
    return fn


def dim_stack_features(df: DataFrame, value_cols: list[str],
                       features: FeatureSet | None = None,
                       max_batch_cells: int = 1 << 23) -> DataFrame:
    """Apply ONE FeatureSet to SEVERAL array columns in a single call —
    the reference's DimStack-style multi-variable map
    (/root/reference/src/FeatureSets.jl:99, src/FeatureArrays.jl:238):
    one output row per input row with ``{col}_{feature}``-prefixed
    values for every (column, feature) pair.

    One Arrow pass evaluates every column's matrix batch-vectorized — no
    per-column scan, no join to re-align rows. Each column goes through
    :func:`series_features`' own sub-batcher (``_padded_batches``), so
    each prefixed block is bit-identical to running series_features on
    that column alone (pytest-pinned). A column whose array is empty
    yields NaN for that row's block (Julia's minimum([]) error surface
    maps to missing)."""
    features = features or default_rollup_features()
    cols = tuple(value_cols)
    schema = ("doc_id string, source string, "
              + ", ".join(f"{c}_{n} double"
                          for c in cols for n in features.names))
    return df.mapInPandas(
        make_dim_stack_fn(features, cols, int(max_batch_cells)), schema)


def series_features(seq: DataFrame,
                    features: FeatureSet | None = None,
                    max_batch_cells: int = 1 << 23,
                    num_partitions: int | None = None,
                    return_type=None) -> DataFrame:
    """One row of feature values per doc over the WHOLE series — ragged
    lengths, no length cap (reference bulk-evaluation semantics; empty
    docs produce no row, mirroring Julia's minimum([]) error).

    Scale shape: optional range partitioning by n_tok co-locates
    similar-length docs (bounded padding waste per Arrow batch); the
    kernel sub-batches rows so rows x width <= max_batch_cells, so a
    multi-million-token long-tail doc evaluates in a small batch while
    short docs batch by the hundreds. The Arrow INPUT batch is bounded
    too: Spark 4's spark.sql.execution.arrow.maxBytesPerBatch (64 MB
    default) splits batches by bytes, so 512 long-tail docs can never
    materialize in one input batch ahead of the sub-batcher. No shuffle
    of tokens unless num_partitions is given."""
    features = features or default_rollup_features()
    d = seq.where(F.size("tokens") >= 1)
    if num_partitions:
        d = d.repartitionByRange(num_partitions, "n_tok", "doc_id")
    return d.mapInPandas(
        make_series_fn(features, int(max_batch_cells),
                       return_type=return_type),
        series_schema(features, return_type=return_type))


# ---------------------------------------------------- outlier windows

#: shared comparison — |mean_w - mean_d| > 2*std_d/sqrt(c_w) (two
#: standard errors of a c_w-sample mean) with denominators cleared:
#: both sides are IEEE double products of EXACT BIGINT sufficient
#: statistics (window count/sum, doc count/sum/sumsq), so the boolean
#: is bit-identical across engines and cluster sizes.
_OUT_LHS = ("(CAST(s_w * n_d - s_d * c_w AS DOUBLE)"
            " * CAST(s_w * n_d - s_d * c_w AS DOUBLE)"
            " * CAST(n_d - 1 AS DOUBLE))")
_OUT_RHS = ("(4.0 * CAST(c_w AS DOUBLE)"
            " * CAST(n_d AS DOUBLE)"
            " * CAST(n_d * q_d - s_d * s_d AS DOUBLE))")


def _win_sums_expr(W: int) -> str:
    """Row-local tumbling-window sufficient statistics: an array of
    (window_id, c_w, s_w) structs folded from the doc's token array —
    :func:`rolling_windows`' window stream. :func:`outlier_windows`
    computes the same boundaries in its numpy kernel, and the DuckDB
    twin :func:`_win_sums_cte_expr` pins both on every oracle sweep."""
    return (f"CASE WHEN n_tok = 0 THEN array() "
            f"ELSE transform(sequence(1, CAST(ceil(n_tok / {W}.0) AS INT)), "
            f"i -> struct(CAST(i - 1 AS BIGINT) AS window_id, "
            f"CAST(size(slice(tokens, (i - 1) * {W} + 1, {W})) AS BIGINT)"
            f" AS c_w, "
            f"aggregate(slice(tokens, (i - 1) * {W} + 1, {W}), 0L, "
            f"(a, x) -> a + x) AS s_w)) END")


def _win_sums_cte_expr(W: int) -> str:
    """DuckDB twin of :func:`_win_sums_expr` (a list of structs over a
    `seq` row) — one definition for both oracle replays."""
    fold = ("list_reduce(list_prepend(CAST(0 AS BIGINT), "
            "list_transform({a}, zx -> CAST(zx AS BIGINT))), "
            "(a, x) -> a + x)")
    sl = f"list_slice(tokens, (i - 1) * {W} + 1, (i - 1) * {W} + {W})"
    return (f"list_transform("
            f"range(1, CAST(ceil(n_tok / {W}.0) AS BIGINT) + 1), "
            f"i -> {{'window_id': CAST(i - 1 AS BIGINT), "
            f"'c_w': CAST(len({sl}) AS BIGINT), "
            f"'s_w': {fold.format(a=sl)}}})")


def outlier_windows(seq: DataFrame, window: int = 64) -> DataFrame:
    """Tier-0 anomaly flags: mark each tumbling window whose mean
    deviates from its document's mean by more than 2 standard errors
    (2*std_d/sqrt(c_w) — the rollup-level outlier sweep; ~5% of
    windows fire under pure noise, deviating segments fire reliably).
    Returns (doc_id, window_id, c_w, s_w, is_outlier).

    The test is evaluated with denominators cleared —
    (s_w*n_d - s_d*c_w)^2 * (n_d-1) > 4*c_w*n_d*(n_d*q_d - s_d^2) —
    over exact integer sufficient statistics, so the flag is
    bit-deterministic (no float aggregation anywhere; the three final
    DOUBLE casts mirror `_OUT_LHS`/`_OUT_RHS` product order exactly).

    Scale shape (100 TB): everything is row-local — ONE batched Arrow
    kernel pass (Scan -> MapInPandas, ZERO Exchange, plan-asserted).
    Per Arrow batch all token arrays concatenate into one flat int64
    buffer; doc totals and tumbling-window sums are np.add.reduceat
    over doc/window start offsets — O(1) vector passes, no per-doc
    Python. Window boundaries match `_win_sums_expr` (the shared
    window-identity contract with :func:`rolling_windows`), which the
    DuckDB value oracle pins on every sweep. (The previous
    HOF-fold+Generate formulation paid per-token expression-tree eval:
    5.9s -> ~1.5s on the x10 corpus.)"""
    W = int(window)

    def fn(batches):
        import numpy as np
        import pandas as pd
        from tsf.kernels import ragged_arange, ragged_batch
        for pdf in batches:
            if len(pdf) == 0:
                continue
            r = ragged_batch(pdf["tokens"].to_numpy())
            if r is None:
                continue
            keep, lens, T, off = r   # n_tok = 0 docs emit no windows
            dids = pdf["doc_id"].to_numpy()[keep]
            s_d = np.add.reduceat(T, off[:-1])
            q_d = np.add.reduceat(T * T, off[:-1])
            nw = -(-lens // W)
            _, di, wid = ragged_arange(nw)
            s_w = np.add.reduceat(T, off[di] + wid * W)
            c_w = np.minimum(lens[di] - wid * W, W)
            n_d = lens[di]
            a = (s_w * n_d - s_d[di] * c_w).astype(np.float64)
            lhs = a * a * (n_d - 1).astype(np.float64)
            rhs = (4.0 * c_w.astype(np.float64)
                   * n_d.astype(np.float64)
                   * (n_d * q_d[di] - s_d[di] * s_d[di])
                   .astype(np.float64))
            yield pd.DataFrame({
                "doc_id": dids[di], "window_id": wid,
                "c_w": c_w, "s_w": s_w, "is_outlier": lhs > rhs})

    id_type = seq.schema["doc_id"].dataType.simpleString()
    return seq.select("doc_id", "tokens").mapInPandas(
        fn, f"doc_id {id_type}, window_id bigint, c_w bigint, "
            "s_w bigint, is_outlier boolean")


def outlier_windows_duckdb(seq_cte: str, window: int = 64) -> str:
    """DuckDB replay of :func:`outlier_windows` (same cleared-denominator
    comparison over the same integer sufficient statistics)."""
    W = int(window)
    fold = ("list_reduce(list_prepend(CAST(0 AS BIGINT), "
            "list_transform({a}, zx -> {v})), (a, x) -> a + x)")
    s_d = fold.format(a="tokens", v="CAST(zx AS BIGINT)")
    q_d = fold.format(a="tokens",
                      v="CAST(zx AS BIGINT) * CAST(zx AS BIGINT)")
    return f"""
    WITH seq AS ({seq_cte}),
    doc AS (SELECT doc_id, n_tok, CAST(n_tok AS BIGINT) AS n_d,
                   {s_d} AS s_d, {q_d} AS q_d, tokens
            FROM seq WHERE n_tok > 0),
    ex AS (SELECT doc_id, n_d, s_d, q_d,
                  t.window_id AS window_id, t.c_w AS c_w, t.s_w AS s_w
           FROM (SELECT doc_id, n_d, s_d, q_d,
                        {_win_sums_cte_expr(W)} AS ws
                 FROM doc) q, UNNEST(q.ws) AS u(t))
    SELECT doc_id, window_id, c_w, s_w,
           ({_OUT_LHS} > {_OUT_RHS}) AS is_outlier
    FROM ex
    """


def rolling_windows(seq: DataFrame, window: int = 64,
                    k: int = 4) -> DataFrame:
    """Rolling continuous aggregate over the tier-0 window stream: for
    each (doc, window) emit the trailing-k-window count/sum and the
    rolling mean (frame ramps up at the head of each doc — the standard
    moving-average continuous query over rollup rows). Returns
    (doc_id, window_id, c_w, s_w, roll_n, roll_cnt, roll_sum,
    roll_mean).

    roll_mean is ONE IEEE division of two exact BIGINTs, so values are
    bit-identical across engines and cluster sizes.

    Scale shape (100 TB): window sums are row-local HOF folds (zero
    token shuffle); the ONLY Exchange carries (doc_id, window_id, two
    BIGINTs) — rollup rows, ~window× smaller than the corpus — for the
    per-doc ordered frame (plan-asserted single Exchange)."""
    from pyspark.sql import Window as W_
    W = int(window)
    ex = (seq.select("doc_id", F.explode(F.expr(_win_sums_expr(W))).alias("w"))
          .select("doc_id", "w.window_id", "w.c_w", "w.s_w"))
    frame = (W_.partitionBy("doc_id").orderBy("window_id")
             .rowsBetween(-(int(k) - 1), 0))
    return (ex.select(
        "doc_id", "window_id", "c_w", "s_w",
        F.count("*").over(frame).alias("roll_n"),
        F.sum("c_w").over(frame).alias("roll_cnt"),
        F.sum("s_w").over(frame).alias("roll_sum"))
        .withColumn("roll_mean", F.expr(
            "CAST(roll_sum AS DOUBLE) / CAST(roll_cnt AS DOUBLE)")))


def rolling_windows_duckdb(seq_cte: str, window: int = 64,
                           k: int = 4) -> str:
    """DuckDB replay of :func:`rolling_windows` (same frame, same
    single exact-BIGINT division)."""
    W = int(window)
    fr = (f"OVER (PARTITION BY doc_id ORDER BY window_id "
          f"ROWS BETWEEN {int(k) - 1} PRECEDING AND CURRENT ROW)")
    return f"""
    WITH seq AS ({seq_cte}),
    ex AS (SELECT doc_id, t.window_id AS window_id,
                  t.c_w AS c_w, t.s_w AS s_w
           FROM (SELECT doc_id, {_win_sums_cte_expr(W)} AS ws
                 FROM seq WHERE n_tok > 0) q, UNNEST(q.ws) AS u(t))
    SELECT doc_id, window_id, c_w, s_w,
           CAST(count(*) {fr} AS BIGINT) AS roll_n,
           CAST(sum(c_w) {fr} AS BIGINT) AS roll_cnt,
           CAST(sum(s_w) {fr} AS BIGINT) AS roll_sum,
           CAST(sum(s_w) {fr} AS DOUBLE)
             / CAST(sum(c_w) {fr} AS DOUBLE) AS roll_mean
    FROM ex
    """


# --------------------------------------------------- whole-series dynamics

def series_dynamics(seq: DataFrame, pnn_th: int = 40) -> DataFrame:
    """catch22-style whole-series dynamics over the token arrays —
    three statistics the window kernels don't cover, each a single
    row-local fold (compare catch22's CO_trev_1_num /
    MD_hrv_classic_pnn40 / SB_BinaryStats_mean_longstretch1; the
    reference's per-window catalogue is `src/Features.jl`, these are
    the whole-series "beyond" shelf next to `outlier_windows`):

    - ``trev_sum`` / ``trev_mean`` — time-reversal asymmetry: sum and
      mean of (x_{t+1} - x_t)^3. Each cube of an integer diff is < 2^53
      so it is EXACTLY representable in float64; the fold is a strict
      left-to-right IEEE sum in both Spark ``aggregate`` and DuckDB
      ``list_reduce``, so the result is bit-identical across engines
      and (being row-local) across cluster sizes.
    - ``pnn_ppm`` — fraction (integer ppm, floor division of exact
      BIGINTs) of successive diffs with |diff| > pnn_th.
    - ``longstretch_above`` — longest run of consecutive values
      strictly above the series mean, with the comparison evaluated
      denominators-cleared (x * n > sum) so it is pure BIGINT.

    Docs with n_tok < 2 keep a row (NULL trev/pnn; longstretch 0 — a
    single value is never above its own mean).

    Scale shape (100 TB): Scan → Project only, ZERO Exchange, no
    Generate, no UDF (plan-asserted)."""
    th = int(pnn_th)
    diffs = ("zip_with(slice(tokens, 2, greatest(n_tok - 1, 0)), "
             "slice(tokens, 1, greatest(n_tok - 1, 0)), "
             "(a, b) -> CAST(a AS BIGINT) - CAST(b AS BIGINT))")
    trev = (f"aggregate({diffs}, CAST(0 AS DOUBLE), (a, x) -> "
            "a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE) "
            "* CAST(x AS DOUBLE))")
    pnn_cnt = (f"aggregate({diffs}, 0L, (a, x) -> "
               f"a + IF(abs(x) > {th}L, 1L, 0L))")
    stretch = ("aggregate(tokens, named_struct('cur', 0L, 'best', 0L), "
               "(a, x) -> named_struct("
               "'cur', IF(CAST(x AS BIGINT) * CAST(n_tok AS BIGINT) > s_d, "
               "a.cur + 1L, 0L), "
               "'best', greatest(a.best, "
               "IF(CAST(x AS BIGINT) * CAST(n_tok AS BIGINT) > s_d, "
               "a.cur + 1L, 0L))), a -> a.best)")
    base = seq.withColumn(
        "s_d", F.expr("aggregate(tokens, 0L, (a, x) -> a + x)"))
    return base.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.expr(f"IF(n_tok >= 2, {trev}, CAST(NULL AS DOUBLE))")
         .alias("trev_sum"),
        F.expr(f"IF(n_tok >= 2, {trev} / CAST(n_tok - 1 AS DOUBLE), "
               "CAST(NULL AS DOUBLE))").alias("trev_mean"),
        F.expr(f"IF(n_tok >= 2, (1000000L * {pnn_cnt}) div "
               "CAST(n_tok - 1 AS BIGINT), CAST(NULL AS BIGINT))")
         .alias("pnn_ppm"),
        F.expr(stretch).alias("longstretch_above"))


def series_dynamics_duckdb(seq_cte: str, pnn_th: int = 40) -> str:
    """DuckDB replay of :func:`series_dynamics` — same folds in the
    same left-to-right order (IEEE sums bit-identical), same cleared
    denominators for the above-mean test, same BIGINT floor division
    for the ppm."""
    th = int(pnn_th)
    diffs = ("list_transform(range(2, n_tok + 1), i -> "
             "CAST(tokens[i] AS BIGINT) - CAST(tokens[i - 1] AS BIGINT))")
    trev = (f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"list_transform({diffs}, zx -> CAST(zx AS DOUBLE) "
            f"* CAST(zx AS DOUBLE) * CAST(zx AS DOUBLE))), "
            "(a, x) -> a + x)")
    pnn_cnt = (f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
               f"list_transform({diffs}, zx -> "
               f"CASE WHEN abs(zx) > {th} THEN CAST(1 AS BIGINT) "
               "ELSE CAST(0 AS BIGINT) END)), (a, x) -> a + x)")
    s_d = ("list_reduce(list_prepend(CAST(0 AS BIGINT), "
           "list_transform(tokens, zx -> CAST(zx AS BIGINT))), "
           "(a, x) -> a + x)")
    # run-length fold over the (above-mean) booleans: pack (cur, best)
    # into one BIGINT as cur * 2^31 + best (runs < 2^31 — n_tok is INT)
    stretch = ("list_reduce(list_prepend(CAST(0 AS BIGINT), "
               "list_transform(tokens, zx -> CAST(zx AS BIGINT))), "
               "(a, x) -> CASE WHEN x * CAST(n_tok AS BIGINT) > s_d "
               "THEN ((a // 2147483648) + 1) * 2147483648 "
               "+ greatest(a % 2147483648, (a // 2147483648) + 1) "
               "ELSE a % 2147483648 END) % 2147483648")
    return f"""
    WITH seq AS ({seq_cte}),
    base AS (SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok_l, n_tok,
                    {s_d} AS s_d, tokens
             FROM seq)
    SELECT doc_id, n_tok_l AS n_tok,
           CASE WHEN n_tok >= 2 THEN {trev}
                ELSE CAST(NULL AS DOUBLE) END AS trev_sum,
           CASE WHEN n_tok >= 2 THEN {trev} / CAST(n_tok - 1 AS DOUBLE)
                ELSE CAST(NULL AS DOUBLE) END AS trev_mean,
           CASE WHEN n_tok >= 2 THEN (1000000 * {pnn_cnt}) // (n_tok - 1)
                ELSE CAST(NULL AS BIGINT) END AS pnn_ppm,
           CASE WHEN n_tok >= 1 THEN {stretch}
                ELSE CAST(0 AS BIGINT) END AS longstretch_above
    FROM base
    """

# --------------------------------------------------- CUSUM changepoint

def series_changepoint(seq: DataFrame) -> DataFrame:
    """Single mean-shift changepoint per series by the CUSUM statistic
    (Page 1954 / the AMOC "at most one changepoint" split): the split
    k in [1, n-1] maximizing |S_k - (k/n) S_n|, evaluated
    denominators-cleared as G_k = |n * S_k - k * S_n| so every compare
    is EXACT BIGINT (n <= ~2^18 token positions, S <= 2^34 token mass
    -> n * S < 2^53 << 2^63; no float enters the argmax). Ties break to
    the SMALLEST k (strict > in the fold), matching the oracle's
    row_number ORDER BY g DESC, k ASC.

    One strict left-to-right ``aggregate`` fold per row carrying
    (k, S_k, best_k, best_G, best_S): position-dependent, but every
    quantity is integer so the result is bit-identical across engines
    and cluster sizes. Docs with n_tok < 2 keep their row with NULL
    changepoint columns (no valid split).

    Output: doc_id, n_tok, cp_pos (1-based prefix length), cp_stat
    (= G at the argmax), left_sum / right_sum (exact token mass on
    each side of the split). cp_stat/left_sum/right_sum are emitted as
    DOUBLE: the DuckDB oracle's windowed ``sum(BIGINT)`` yields HUGEINT
    (the only HUGEINT columns in the 126-query contract), which pandas
    fetches as float64 — emitting float64 here makes the engine/oracle
    dtypes identical under a dtype-sensitive canonical hash. The values
    themselves stay exact: the argmax runs in the all-BIGINT fold and
    |G| < 2^47 is far below float64's 2^53 integer-exact range.

    Scale shape (100 TB): Scan -> Project only, ZERO Exchange, no
    Generate, no UDF (plan-asserted, the series_dynamics precedent)."""
    fold = (
        "aggregate(tokens, "
        "named_struct('k', 0L, 's', 0L, 'bk', 0L, 'bg', -1L, 'bs', 0L), "
        "(a, x) -> named_struct("
        "'k', a.k + 1L, "
        "'s', a.s + CAST(x AS BIGINT), "
        "'bk', IF(a.k + 1L < CAST(n_tok AS BIGINT) AND "
        "abs(CAST(n_tok AS BIGINT) * (a.s + CAST(x AS BIGINT)) "
        "- (a.k + 1L) * s_d) > a.bg, a.k + 1L, a.bk), "
        "'bg', IF(a.k + 1L < CAST(n_tok AS BIGINT) AND "
        "abs(CAST(n_tok AS BIGINT) * (a.s + CAST(x AS BIGINT)) "
        "- (a.k + 1L) * s_d) > a.bg, "
        "abs(CAST(n_tok AS BIGINT) * (a.s + CAST(x AS BIGINT)) "
        "- (a.k + 1L) * s_d), a.bg), "
        "'bs', IF(a.k + 1L < CAST(n_tok AS BIGINT) AND "
        "abs(CAST(n_tok AS BIGINT) * (a.s + CAST(x AS BIGINT)) "
        "- (a.k + 1L) * s_d) > a.bg, a.s + CAST(x AS BIGINT), a.bs)))")
    base = seq.withColumn(
        "s_d", F.expr("aggregate(tokens, 0L, (a, x) -> a + x)")
    ).withColumn("cp", F.expr(fold))
    has = "n_tok >= 2"
    return base.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.expr(f"IF({has}, cp.bk, CAST(NULL AS BIGINT))").alias("cp_pos"),
        F.expr(f"IF({has}, CAST(cp.bg AS DOUBLE), CAST(NULL AS DOUBLE))")
         .alias("cp_stat"),
        F.expr(f"IF({has}, CAST(cp.bs AS DOUBLE), CAST(NULL AS DOUBLE))")
         .alias("left_sum"),
        F.expr(f"IF({has}, CAST(s_d - cp.bs AS DOUBLE), "
               "CAST(NULL AS DOUBLE))").alias("right_sum"))


def series_changepoint_duckdb(seq_cte: str) -> str:
    """DuckDB replay of :func:`series_changepoint` — prefix sums as a
    window SUM, the same cleared-denominator BIGINT statistic, argmax
    via row_number (g DESC, k ASC) = the fold's strict-> first-k tie
    rule; LEFT JOIN keeps docs with no valid split (n_tok < 2)."""
    return f"""
    WITH seq AS ({seq_cte}),
    tok AS (SELECT doc_id, CAST(n_tok AS BIGINT) AS n,
                   CAST(unnest(tokens) AS BIGINT) AS x,
                   CAST(generate_subscripts(tokens, 1) AS BIGINT) AS k
            FROM seq),
    pre AS (SELECT doc_id, n, k,
                   sum(x) OVER (PARTITION BY doc_id ORDER BY k) AS s_k,
                   sum(x) OVER (PARTITION BY doc_id) AS s_n
            FROM tok),
    g AS (SELECT doc_id, k, s_k, s_n,
                 abs(n * s_k - k * s_n) AS g,
                 row_number() OVER (PARTITION BY doc_id
                     ORDER BY abs(n * s_k - k * s_n) DESC, k ASC) AS rn
          FROM pre WHERE k < n),
    best AS (SELECT doc_id, k AS cp_pos, g AS cp_stat,
                    s_k AS left_sum, s_n - s_k AS right_sum
             FROM g WHERE rn = 1)
    SELECT seq.doc_id, CAST(seq.n_tok AS BIGINT) AS n_tok,
           best.cp_pos, best.cp_stat, best.left_sum, best.right_sum
    FROM seq LEFT JOIN best ON seq.doc_id = best.doc_id
    """


# --------------------------------------------------- LTTB downsampling

def series_lttb(seq: DataFrame, buckets: int = 12) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013)
    of each token series to ``buckets`` points — the standard
    shape-preserving decimation for plotting/thumbnailing long series.

    x = 1-based position, y = token value. First and last points are
    always kept; each of the ``buckets - 2`` middle buckets contributes
    the point maximizing the triangle area with the previously SELECTED
    point and the NEXT bucket's centroid. The area compare runs
    denominators-cleared (x the centroid's count c):

        A'(i) = |(px*c - Sx)(y_i - py) - (px - i)(Sy - c*py)|

    — pure BIGINT (|terms| < 2^62 for n < ~3e6 positions), so the
    argmax, and therefore the whole selection, is bit-identical across
    engines and cluster sizes. Ties break to the smallest position
    (strict > fold == the oracle's first-max list_position).

    Docs with n_tok < buckets emit their full series (downsampling is
    the identity there); empty docs emit no rows.

    Output: (doc_id, n_tok, rank, pos, y) — rank 1..min(n, buckets),
    pos the kept 1-based position, y its token value.

    Scale shape (100 TB): ONE row-local Arrow kernel pass (Scan ->
    MapInPandas; ZERO Exchange, no join — plan-asserted), LOCKSTEP
    across the batch: bucket k of every doc is independent given
    bucket k-1's picks, so the nb middle buckets run as nb vectorized
    passes over ragged candidate segments of one flat token buffer
    (reduceat max + min-index-of-equal = the exact first-max
    tie-break); centroids come from one global prefix sum. No per-doc
    python loop. (A pure-SQL-HOF formulation was 8x slower at sf0.1 —
    the per-token expression-tree eval dominated; the per-doc-loop
    kernel was 3.8x slower at x10 — 4.5s -> 1.2s lockstep. The DuckDB
    oracle pins identical values throughout.)"""
    B = int(buckets)
    if B < 3:
        raise ValueError("buckets must be >= 3")
    nb = B - 2

    def lttb_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # LOCKSTEP over the batch: the bucket recurrence is sequential
        # per doc, but bucket k of EVERY doc is independent — so the
        # nb middle buckets run as nb vectorized passes over all docs'
        # candidate ranges at once (ragged segments over one flat
        # buffer; first-max argmax via reduceat max + min-index-of-
        # equal, exact on the BIGINT areas). Replaces the per-doc
        # python loop (measured 4.5s -> ~1.5s on the x10 corpus).
        for pdf in batches:
            if len(pdf) == 0:
                continue
            from tsf.kernels import ragged_arange, ragged_batch
            r = ragged_batch(pdf["tokens"].to_numpy())
            if r is None:
                continue
            keep, lens, T, off = r
            dids = pdf["doc_id"].to_numpy()[keep]
            off = off[:-1]
            Cg = np.concatenate(([0], np.cumsum(T)))  # global prefix sum
            parts = []  # (doc_idx array, pos array) chunks, doc-major

            small = lens < B        # identity path: full series
            if small.any():
                _, di_s, seg_s = ragged_arange(lens[small])
                sidx = np.flatnonzero(small)
                parts.append((sidx[di_s], seg_s + 1))

            big = ~small
            if big.any():
                bidx = np.flatnonzero(big)
                n = lens[big]
                boff = off[big]
                m = n - 2
                D = len(n)
                sel = np.empty((D, B), dtype=np.int64)
                sel[:, 0] = 1
                sel[:, B - 1] = n
                px = np.ones(D, dtype=np.int64)
                py = T[boff]
                for k in range(nb):
                    lo = 2 + (k * m) // nb
                    hi = 1 + ((k + 1) * m) // nb
                    if k < nb - 1:
                        nhi = 1 + ((k + 2) * m) // nb
                        c = nhi - hi
                        sx = ((hi + 1 + nhi) * (nhi - hi)) // 2
                        sy = Cg[boff + nhi] - Cg[boff + hi]
                    else:
                        c = np.ones(D, dtype=np.int64)
                        sx = n
                        sy = T[boff + n - 1]
                    counts = hi - lo + 1
                    starts, di, seg = ragged_arange(counts)
                    iv = lo[di] + seg
                    yb = T[boff[di] + iv - 1]
                    area = np.abs((px[di] * c[di] - sx[di]) * (yb - py[di])
                                  - (px[di] - iv) * (sy[di] - c[di] * py[di]))
                    amax = np.maximum.reduceat(area, starts)
                    first = np.minimum.reduceat(
                        np.where(area == amax[di], seg, np.int64(2 ** 62)),
                        starts)
                    best = lo + first
                    sel[:, k + 1] = best
                    px = best
                    py = T[boff + best - 1]
                parts.append((np.repeat(bidx, B), sel.ravel()))

            di_all = np.concatenate([p[0] for p in parts])
            pos = np.concatenate([p[1] for p in parts])
            # rank = within-doc 1-based ordinal; both chunks emit each
            # doc's picks contiguously in rank order
            ranks = []
            if small.any():
                ranks.append(seg_s + 1)
            if big.any():
                ranks.append(np.tile(np.arange(1, B + 1, dtype=np.int64),
                                     int(big.sum())))
            rank = np.concatenate(ranks)
            yield pd.DataFrame({
                "doc_id": dids[di_all],
                "n_tok": lens[di_all],
                "rank": rank,
                "pos": pos,
                "y": T[off[di_all] + pos - 1]})

    id_type = seq.schema["doc_id"].dataType.simpleString()
    return seq.select("doc_id", "tokens").mapInPandas(
        lttb_fn, f"doc_id {id_type}, n_tok bigint, rank bigint, "
                 "pos bigint, y bigint")


def series_lttb_duckdb(seq_cte: str, buckets: int = 12) -> str:
    """DuckDB replay of :func:`series_lttb` — the sequential bucket
    selection as a recursive CTE (one iteration per middle bucket,
    the DTW-oracle idiom), the same cleared-denominator BIGINT area,
    first-max tie rule via list_position, identity path for short
    docs."""
    B = int(buckets)
    nb = B - 2
    m = "(n - 2)"
    lo = f"(2 + (k * {m}) // {nb})"
    hi = f"(1 + ((k + 1) * {m}) // {nb})"
    nhi = f"(1 + ((k + 2) * {m}) // {nb})"
    c_ = f"CASE WHEN k < {nb - 1} THEN {nhi} - {hi} ELSE 1 END"
    sx = (f"CASE WHEN k < {nb - 1} THEN "
          f"(({hi} + 1 + {nhi}) * ({nhi} - {hi})) // 2 ELSE n END")
    sy = (f"CASE WHEN k < {nb - 1} THEN "
          f"COALESCE(list_sum(y[{hi} + 1:{nhi}]), 0) ELSE y[n] END")
    areas = (f"list_transform(range({lo}, {hi} + 1), i -> "
             f"abs((px * ({c_}) - ({sx})) * (y[i] - py) "
             f"- (px - i) * (({sy}) - ({c_}) * py)))")
    return f"""
    WITH RECURSIVE seq AS ({seq_cte}),
    f AS (SELECT doc_id, CAST(n_tok AS BIGINT) AS n,
                 list_transform(tokens, zx -> CAST(zx AS BIGINT)) AS y
          FROM seq WHERE n_tok >= {B}),
    it AS (
      SELECT doc_id, n, y, CAST(0 AS BIGINT) AS k,
             CAST(1 AS BIGINT) AS px, y[1] AS py,
             [CAST(1 AS BIGINT)] AS sel
      FROM f
      UNION ALL
      SELECT doc_id, n, y, k + 1,
             {lo} - 1 + CAST(list_position({areas},
                 list_aggregate({areas}, 'max')) AS BIGINT) AS npx,
             y[{lo} - 1 + list_position({areas},
                 list_aggregate({areas}, 'max'))] AS npy,
             list_append(sel, {lo} - 1 + CAST(list_position({areas},
                 list_aggregate({areas}, 'max')) AS BIGINT))
      FROM it WHERE k < {nb}
    ),
    done AS (SELECT doc_id, n, y, list_append(sel, n) AS sel
             FROM it WHERE k = {nb}
             UNION ALL
             SELECT doc_id, CAST(n_tok AS BIGINT) AS n,
                    list_transform(tokens, zx -> CAST(zx AS BIGINT)) AS y,
                    list_transform(range(1, n_tok + 1),
                                   zx -> CAST(zx AS BIGINT)) AS sel
             FROM seq WHERE n_tok >= 1 AND n_tok < {B})
    SELECT doc_id, n AS n_tok,
           CAST(generate_subscripts(sel, 1) AS BIGINT) AS rank,
           CAST(unnest(sel) AS BIGINT) AS pos,
           CAST(unnest(list_transform(sel, zp -> y[zp])) AS BIGINT) AS y
    FROM done
    """


# --------------------------------------------------- motif discovery

def series_motif(seq: DataFrame, window: int = 32,
                 max_windows: int = 64) -> DataFrame:
    """Matrix-profile-lite motif discovery: per document, the closest
    pair of non-overlapping tumbling windows by L1 distance — the
    dominant repeated pattern (Yeh et al. 2016's motif definition over
    a tumbling grid; tumbling windows are their own exclusion zone, so
    no trivial-match masking is needed).

    Distance is sum |a_i - b_i| over BIGINT tokens — EXACT, so the
    argmin is bit-deterministic; ties break lexicographically to the
    smallest (win_a, win_b) via a single struct-min aggregate (=
    the oracle's ORDER BY dist, win_a, win_b row_number).

    ``max_windows`` caps the per-doc grid (first max_windows*window
    tokens), bounding the pair count at W(W-1)/2 per doc — the
    documented trade for a corpus-linear plan. Docs with < 2 windows
    emit no row.

    Output: (doc_id, n_win, win_a, win_b, motif_dist).

    Scale shape (100 TB): windows explode row-locally (w BIGINTs per
    window, never full docs), the self-join is an equi-join on doc_id
    (co-partitioned, no cartesian across docs), and the argmin is one
    partial-aggregated struct-min — the only Exchanges carry window
    rows and per-doc minima (plan-asserted)."""
    w, cap = int(window), int(max_windows)
    wins = (seq.where(F.size("tokens") >= 2 * w)
            .select("doc_id",
                    F.posexplode(F.expr(
                        f"transform(sequence(0, "
                        f"least(size(tokens) div {w}, {cap}) - 1), "
                        f"k -> transform(slice(tokens, k * {w} + 1, {w}), "
                        f"x -> CAST(x AS BIGINT)))"))
                    .alias("win_id", "win")))
    a, b = wins.alias("a"), wins.alias("b")
    pairs = (a.join(b, (F.col("a.doc_id") == F.col("b.doc_id"))
                    & (F.col("b.win_id") > F.col("a.win_id")))
             .select(F.col("a.doc_id").alias("doc_id"),
                     F.col("a.win_id").cast("long").alias("win_a"),
                     F.col("b.win_id").cast("long").alias("win_b"),
                     F.expr("aggregate(zip_with(a.win, b.win, "
                            "(x, y) -> abs(x - y)), 0L, (s, v) -> s + v)")
                     .alias("dist")))
    best = (pairs.groupBy("doc_id")
            .agg(F.min(F.struct("dist", "win_a", "win_b")).alias("m"),
                 (F.max("win_b") + 1).alias("n_win"))
            .select("doc_id", F.col("n_win").cast("long").alias("n_win"),
                    F.col("m.win_a").alias("win_a"),
                    F.col("m.win_b").alias("win_b"),
                    F.col("m.dist").alias("motif_dist")))
    return best


def series_motif_duckdb(seq_cte: str, window: int = 32,
                        max_windows: int = 64) -> str:
    """DuckDB replay of :func:`series_motif` — the same tumbling grid,
    the same exact-BIGINT L1, the argmin as a row_number over
    (dist, win_a, win_b)."""
    w, cap = int(window), int(max_windows)
    return f"""
    WITH seq AS ({seq_cte}),
    f AS (SELECT doc_id,
                 list_transform(tokens, zx -> CAST(zx AS BIGINT)) AS y,
                 least(CAST(n_tok AS BIGINT) // {w}, {cap}) AS nw
          FROM seq WHERE n_tok >= {2 * w}),
    wins AS (SELECT doc_id, CAST(t.k AS BIGINT) AS win_id,
                    y[t.k * {w} + 1 : t.k * {w} + {w}] AS win
             FROM f, UNNEST(range(0, nw)) AS t(k)),
    pairs AS (SELECT a.doc_id AS doc_id, a.win_id AS win_a,
                     b.win_id AS win_b,
                     CAST(list_sum(list_transform(range(1, {w} + 1),
                        i -> abs(a.win[i] - b.win[i]))) AS BIGINT) AS dist
              FROM wins a JOIN wins b
                ON a.doc_id = b.doc_id AND b.win_id > a.win_id),
    rk AS (SELECT doc_id, win_a, win_b, dist,
                  row_number() OVER (PARTITION BY doc_id
                      ORDER BY dist, win_a, win_b) AS rn,
                  max(win_b) OVER (PARTITION BY doc_id) + 1 AS n_win
           FROM pairs)
    SELECT doc_id, CAST(n_win AS BIGINT) AS n_win, win_a, win_b,
           dist AS motif_dist
    FROM rk WHERE rn = 1
    """


# --------------------------------------------------- SAX symbolic words

def series_sax(seq: DataFrame, segments: int = 16) -> DataFrame:
    """SAX-style symbolic approximation (Lin et al. 2003) of each
    series: PAA into ``segments`` equal buckets, each bucket mapped to
    a symbol 0-3 by its mean's position among the document's own EXACT
    quartiles — the shape word that lets series be grouped / indexed /
    deduplicated symbolically.

    Two deviations from textbook SAX, both in service of cross-engine
    bit-exactness: breakpoints are the doc's empirical quartiles
    (sorted[ceil(j*n/4)], j=1..3 — no float z-normalization, no
    Gaussian table), and the mean-vs-breakpoint compare runs
    denominators-cleared (sum_seg > q_j * cnt_seg) in pure BIGINT, so
    every symbol — and the whole word — is bit-identical across
    engines and cluster sizes.

    Docs with n_tok < segments keep a row with a NULL word (PAA is
    undefined); the word is a string of digits, e.g. '0013322011...'.

    Scale shape (100 TB): one row-local array_sort + one pass of
    segment sums per doc — Scan -> Project only, ZERO Exchange, no
    Generate, no UDF (plan-asserted)."""
    S = int(segments)
    if S < 2:
        raise ValueError("segments must be >= 2")
    n = "CAST(n_tok AS BIGINT)"
    qpos = {j: f"CAST((({j}L * {n}) + 3L) div 4L AS INT)" for j in (1, 2, 3)}
    lo = f"(1L + (k * {n}) div {S}L)"
    hi = f"(((k + 1L) * {n}) div {S}L)"
    ssum = (f"aggregate(sequence({lo}, {hi}), 0L, "
            f"(s, i) -> s + CAST(element_at(tokens, CAST(i AS INT)) "
            f"AS BIGINT))")
    cnt = f"({hi} - {lo} + 1L)"
    sym = " + ".join(
        f"IF({ssum} > CAST(element_at(srt, {qpos[j]}) AS BIGINT) "
        f"* {cnt}, 1L, 0L)" for j in (1, 2, 3))
    word = (f"concat_ws('', transform(sequence(0L, {S - 1}L), "
            f"k -> CAST(({sym}) AS STRING)))")
    return (seq
            .withColumn("srt", F.expr(
                "array_sort(transform(tokens, x -> CAST(x AS BIGINT)))"))
            .select("doc_id",
                    F.col("n_tok").cast("long").alias("n_tok"),
                    F.expr(f"IF({n} >= {S}L, {word}, "
                           f"CAST(NULL AS STRING))").alias("sax_word")))


def series_sax_duckdb(seq_cte: str, segments: int = 16) -> str:
    """DuckDB replay of :func:`series_sax` — same quartile positions,
    same cleared-denominator BIGINT compares, same digit word."""
    S = int(segments)
    qpos = {j: f"CAST((({j} * n) + 3) // 4 AS BIGINT)" for j in (1, 2, 3)}
    lo = f"(1 + (k * n) // {S})"
    hi = f"(((k + 1) * n) // {S})"
    ssum = f"COALESCE(list_sum(y[{lo}:{hi}]), 0)"
    cnt = f"({hi} - {lo} + 1)"
    sym = " + ".join(
        f"CASE WHEN {ssum} > srt[{qpos[j]}] * {cnt} "
        f"THEN 1 ELSE 0 END" for j in (1, 2, 3))
    return f"""
    WITH seq AS ({seq_cte}),
    f AS (SELECT doc_id, CAST(n_tok AS BIGINT) AS n,
                 list_transform(tokens, zx -> CAST(zx AS BIGINT)) AS y,
                 list_sort(list_transform(tokens,
                                          zx -> CAST(zx AS BIGINT))) AS srt
          FROM seq)
    SELECT doc_id, n AS n_tok,
           CASE WHEN n >= {S} THEN
             array_to_string(list_transform(range(0, {S}),
                 k -> CAST(({sym}) AS VARCHAR)), '')
           ELSE CAST(NULL AS VARCHAR) END AS sax_word
    FROM f
    """
