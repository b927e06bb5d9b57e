"""Randomized property pins for the batched Arrow kernels.

Each test drives the REAL Spark operator on a seeded random ragged
corpus (degenerate lengths, constant runs, duplicate values included by
construction) and compares against an independent, deliberately naive
per-doc python reference — a different algorithm shape from the
vectorized reduceat/lockstep kernels, so an indexing or segmentation
bug in the batch math cannot cancel out in the reference."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tsf import dedup

FP_MOD = 2147483647


def _ragged_corpus(rng, n_docs=40, max_len=30):
    rows = []
    for i in range(n_docs):
        kind = i % 4
        n = int(rng.integers(0, max_len + 1))
        if kind == 0:
            toks = rng.integers(0, 50_000, n)          # generic
        elif kind == 1:
            toks = rng.integers(0, 4, n)               # tiny alphabet
        elif kind == 2:
            toks = np.full(n, int(rng.integers(0, 9)))  # constant run
        else:
            toks = rng.integers(0, 50_000, n)
            if n >= 6:                                  # planted repeat
                toks[n // 2:n // 2 + 3] = toks[:3]
        rows.append((f"d{i}", [int(t) for t in toks], n, "s"))
    return rows


def _seq_df(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")


def _naive_winnow(toks, k, w):
    """Schleimer et al. selection, doc-at-a-time python ints."""
    n = len(toks)
    if n < k:
        return set()
    hs = []
    for i in range(n - k + 1):
        a = 0
        for x in toks[i:i + k]:
            a = (a * 31 + x) % FP_MOD   # nonneg tokens: % == Java %
        hs.append(a)
    we = min(w, len(hs))
    out = set()
    for wstart in range(len(hs) - we + 1):
        window = hs[wstart:wstart + we]
        mn = min(window)
        j = max(jj for jj in range(we) if window[jj] == mn)  # rightmost
        out.add((wstart + j + 1, mn))                        # 1-based
    return out


def test_winnow_kernel_matches_naive_reference(spark):
    rng = np.random.default_rng(101)
    rows = _ragged_corpus(rng)
    got = {}
    for r in dedup.winnow_fingerprints(_seq_df(spark, rows)).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["h"]))
    for doc_id, toks, n, _ in rows:
        want = _naive_winnow(toks, dedup.WINNOW_K, dedup.WINNOW_W)
        assert got.get(doc_id, set()) == want, doc_id


def test_outlier_kernel_matches_naive_reference(spark):
    from tsf.rollup import outlier_windows
    rng = np.random.default_rng(202)
    rows = _ragged_corpus(rng)
    W = 7
    got = {(r["doc_id"], r["window_id"]):
           (r["c_w"], r["s_w"], r["is_outlier"])
           for r in outlier_windows(_seq_df(spark, rows), window=W)
           .collect()}
    n_expected = 0
    for doc_id, toks, n, _ in rows:
        if n == 0:
            continue
        n_d = n
        s_d = sum(toks)
        q_d = sum(x * x for x in toks)
        for wid in range((n + W - 1) // W):
            win = toks[wid * W:(wid + 1) * W]
            c_w, s_w = len(win), sum(win)
            a = float(s_w * n_d - s_d * c_w)
            lhs = a * a * float(n_d - 1)
            rhs = (4.0 * float(c_w) * float(n_d)
                   * float(n_d * q_d - s_d * s_d))
            assert got[(doc_id, wid)] == (c_w, s_w, lhs > rhs), \
                (doc_id, wid)
            n_expected += 1
    assert len(got) == n_expected


def test_lttb_kernel_matches_naive_reference(spark):
    from tsf.rollup import series_lttb
    B = 6
    rng = np.random.default_rng(303)
    rows = _ragged_corpus(rng, n_docs=30, max_len=25)
    got = {}
    for r in series_lttb(_seq_df(spark, rows), buckets=B).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["rank"], r["pos"], r["y"]))

    def naive_lttb(y):
        n = len(y)
        if n == 0:
            return []
        if n < B:
            return list(range(1, n + 1))
        nb, m = B - 2, n - 2
        sel = [1]
        px, py = 1, y[0]
        for k in range(nb):
            lo = 2 + (k * m) // nb
            hi = 1 + ((k + 1) * m) // nb
            if k < nb - 1:
                nhi = 1 + ((k + 2) * m) // nb
                c = nhi - hi
                sx = ((hi + 1 + nhi) * (nhi - hi)) // 2
                sy = sum(y[hi:nhi])
            else:
                c, sx, sy = 1, n, y[n - 1]
            best, best_a = None, -1
            for i in range(lo, hi + 1):
                a = abs((px * c - sx) * (y[i - 1] - py)
                        - (px - i) * (sy - c * py))
                if a > best_a:                      # first max
                    best, best_a = i, a
            sel.append(best)
            px, py = best, y[best - 1]
        sel.append(n)
        return sel

    for doc_id, toks, n, _ in rows:
        sel = naive_lttb(toks)
        want = [(rk + 1, p, toks[p - 1]) for rk, p in enumerate(sel)]
        assert sorted(got.get(doc_id, [])) == sorted(want), doc_id


def test_minhash_kernel_matches_spark_expr_recompute(spark):
    """Per-doc signatures == a direct JVM recompute with the original
    explode + F.xxhash64(shingle, i) min-aggregate formulation."""
    rng = np.random.default_rng(404)
    words = ["w%d" % rng.integers(0, 30) for _ in range(400)]
    rows, pos = [], 0
    for i in range(25):
        n = int(rng.integers(0, 12))
        rows.append((f"d{i}", " ".join(words[pos:pos + n]), "s", "en"))
        pos += n
    docs = spark.createDataFrame(
        rows, "doc_id string, text string, source string, lang string")
    got = {r["doc_id"]: list(r["sig"])
           for r in dedup.minhash_signatures(docs, num_hashes=8).collect()}
    sh = dedup._hashed_shingles(docs, 3).select(
        "doc_id", F.explode("ss").alias("shingle"))
    mins = [F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"h{i}")
            for i in range(8)]
    want = {r["doc_id"]: [r[f"h{i}"] for i in range(8)]
            for r in sh.groupBy("doc_id").agg(*mins).collect()}
    assert got == want
