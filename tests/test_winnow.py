"""Winnowing fingerprints (tsf/dedup.py winnow_*).

Pins: the Schleimer guarantee (a planted shared substring of
win + k - 1 tokens always shares a fingerprint), the rightmost-minimal
tie-break on constant runs, selection density ~2/(win+1), short-doc
edges, candidate recovery of planted near-dups, and the row-local plan
(no Exchange below the selected-set explode)."""

import numpy as np
from pyspark.sql import functions as F

from tsf import dedup


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _seq_df(spark, rows):
    return spark.createDataFrame(
        [(f"d{i}", list(map(int, t)), len(t), "s") for i, t in enumerate(rows)],
        "doc_id string, tokens array<int>, n_tok int, source string")


def test_guarantee_shared_substring_shares_fingerprint(spark):
    rng = np.random.default_rng(13)
    k, w = dedup.WINNOW_K, dedup.WINNOW_W
    shared = rng.integers(0, 50_000, w + k - 1).tolist()  # minimal length
    rows = []
    for i in range(6):
        pre = rng.integers(0, 50_000, rng.integers(5, 30)).tolist()
        post = rng.integers(0, 50_000, rng.integers(5, 30)).tolist()
        rows.append(pre + shared + post)
    df = _seq_df(spark, rows)
    fp = dedup.winnow_fingerprints(df).collect()
    by_doc = {}
    for r in fp:
        by_doc.setdefault(r["doc_id"], set()).add(r["h"])
    common = set.intersection(*by_doc.values())
    assert common, "planted shared substring must share >= 1 fingerprint"
    cand = dedup.winnow_candidates(df, min_shared=1).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in cand}
    assert len(pairs) == 15  # all 6-choose-2 pairs recovered


def test_rightmost_minimal_on_constant_run(spark):
    # constant tokens -> every k-gram hash equal -> each window keeps
    # its RIGHTMOST position; dedup leaves one fp per window end
    df = _seq_df(spark, [[7] * 12])
    fp = sorted(r["pos"] for r in dedup.winnow_fingerprints(df).collect())
    n_pos = 12 - dedup.WINNOW_K + 1          # 9 hash positions
    w = dedup.WINNOW_W
    assert fp == list(range(w, n_pos + 1))   # window ends 4..9


def test_short_docs(spark):
    df = _seq_df(spark, [[1, 2], [1, 2, 3, 4], [1, 2, 3, 4, 5]])
    out = dedup.winnow_fingerprints(df).collect()
    docs = {r["doc_id"] for r in out}
    assert "d0" not in docs          # fewer than k tokens: no k-grams
    assert "d1" in docs and "d2" in docs  # shrunk effective window


def test_density_and_plan(spark, sf001):
    from tsf.io import sequences_from_documents
    seq = sequences_from_documents(spark, sf001)
    fp = dedup.winnow_fingerprints(seq)
    n_fp = fp.count()
    n_pos = seq.select(F.sum(F.greatest(
        F.col("n_tok") - dedup.WINNOW_K + 1, F.lit(0)))).first()[0]
    dens = n_fp / n_pos
    w = dedup.WINNOW_W
    assert 1.2 / (w + 1) < dens < 3.0 / (w + 1), dens
    p = _plan(fp)
    assert "Exchange" not in p, p
    assert "MapInPandas" in p, p  # one batched Arrow kernel pass
    assert "Generate" not in p, p  # no explode: rows come out of the kernel


def test_token_bound_raises_under_python_O():
    """The token-magnitude guard is an exception, not an assert: under
    ``python -O`` (PYTHONOPTIMIZE reaches the Python workers too) an
    out-of-bound token must still fail instead of silently wrapping."""
    import os
    import subprocess
    import sys
    from pathlib import Path
    repo = str(Path(__file__).resolve().parents[1])
    code = f"""
import sys
sys.path.insert(0, {repo!r})
from tsf import dedup
from tsf.session import get_spark
spark = get_spark("winnow-O", cores=1)
df = spark.createDataFrame(
    [("d0", [3, 1, -5] + list(range(20)), 23, "s")],
    "doc_id string, tokens array<int>, n_tok int, source string")
try:
    dedup.winnow_fingerprints(df).collect()
    print("NO ERROR")
except Exception as e:
    print("RAISED", "oracle-replay bound" in str(e))
spark.stop()
"""
    env = {**os.environ, "PYTHONOPTIMIZE": "1",
           "PYTHONPATH": os.pathsep.join(
               [repo, os.environ.get("PYTHONPATH", "")])}
    r = subprocess.run([sys.executable, "-O", "-c", code], env=env,
                       capture_output=True, text=True, timeout=600)
    assert "RAISED True" in r.stdout, (r.stdout, r.stderr[-2000:])
