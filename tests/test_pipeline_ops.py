"""Training-pipeline operators added beyond the reference: token counts,
series-pairwise Pearson, dedup candidates sanity."""

import numpy as np
from pyspark.sql import functions as F

from tsf import dedup, similarity, textstats
from tsf.io import sequences_from_documents
from tsf.registry import catalogue
from tsf.rollup import tier0


def test_token_counts_basic(spark):
    df = spark.createDataFrame(
        [("a", "hello world, 42 times!"), ("b", ""), ("c", "one-two  three")],
        "doc_id string, text string")
    out = {r["doc_id"]: r for r in textstats.with_token_counts(df).collect()}
    assert out["a"]["n_words"] == 4
    # hello | world | , | 42 | times | !  -> 6 BPE-ish tokens
    assert out["a"]["n_bpe_tokens"] == 6
    assert out["b"]["n_words"] == 0 and out["b"]["n_bpe_tokens"] == 0
    # one | - | two | three
    assert out["c"]["n_bpe_tokens"] == 4


def test_series_pairwise_pearson_matches_numpy(spark, sf001):
    seq = sequences_from_documents(spark, sf001).where("n_tok >= 30")
    fs = catalogue()[["cnt", "sum_tok", "min_tok", "max_tok", "mean", "std"]]
    r = tier0(seq, fs, window=10, blocks=False)
    pairs = similarity.series_pairwise_pearson(r, window=10, min_overlap=3).toPandas()
    assert len(pairs) > 0
    # verify one pair against numpy on the aligned full-window mean series
    row = pairs.iloc[0]
    pdf = (r.where(F.col("doc_id").isin([row["doc_a"], row["doc_b"]])
                   & (F.col("cnt") == 10))
           .select("doc_id", "window_id", "mean").toPandas())
    piv = pdf.pivot(index="window_id", columns="doc_id", values="mean").dropna()
    a = piv[row["doc_a"]].to_numpy()
    b = piv[row["doc_b"]].to_numpy()
    assert len(a) == row["n_overlap"]
    want_corr = np.corrcoef(a, b)[0, 1]
    want_cov = np.cov(a, b, ddof=1)[0, 1]
    assert abs(row["pearson"] - want_corr) < 1e-6
    assert abs(row["cov"] - want_cov) < 1e-6


def test_pairwise_symmetric_dedup(spark, sf001):
    docs = spark.read.parquet(f"{sf001}/documents.parquet")
    pairs = dedup.minhash_pairs(docs, threshold=0.3).toPandas()
    # no (a, b) with a >= b, no duplicates
    assert (pairs["doc_a"] < pairs["doc_b"]).all()
    assert not pairs.duplicated(["doc_a", "doc_b"]).any()


def test_minhash_finds_exact_duplicates(spark):
    rows = [("d1", "the quick brown fox jumps over the lazy dog " * 3, "web", "en"),
            ("d2", "the quick brown fox jumps over the lazy dog " * 3, "web", "en"),
            ("d3", "completely different text about spark engines and rollups "
                   "with many unique words appearing once each", "web", "en")]
    docs = spark.createDataFrame(rows, "doc_id string, text string, source string, lang string")
    pairs = dedup.minhash_pairs(docs, threshold=0.8).toPandas()
    assert ("d1", "d2") in set(zip(pairs["doc_a"], pairs["doc_b"]))
    assert all({a, b} != {"d1", "d3"} for a, b in zip(pairs["doc_a"], pairs["doc_b"]))


def test_arrow_kernels_null_rows_and_bigint_ids(spark):
    """The batched Arrow kernels must (a) DROP rows whose token/shingle
    array is NULL — the SQL formulations they replaced emitted nothing
    for NULL (explode(NULL) / groupBy over zero rows), so crashing the
    python worker on len(None) was a regression — and (b) pass
    non-string doc_id types through (output schema derived from the
    input schema, not hardcoded)."""
    from tsf.rollup import outlier_windows, series_lttb
    seq = spark.createDataFrame(
        [(1, list(range(50)), 50, "s"), (2, None, 0, "s")],
        "doc_id bigint, tokens array<int>, n_tok int, source string")
    out = outlier_windows(seq, window=10)
    assert dict(out.dtypes)["doc_id"] == "bigint"
    assert {r.doc_id for r in out.collect()} == {1}
    lt = series_lttb(seq, buckets=5)
    assert dict(lt.dtypes)["doc_id"] == "bigint"
    assert {r.doc_id for r in lt.collect()} == {1}
    fp = dedup.winnow_fingerprints(seq)
    assert dict(fp.dtypes)["doc_id"] == "bigint"
    assert {r.doc_id for r in fp.collect()} == {1}
    docs = spark.createDataFrame(
        [(10, "a b c d e f", "s", "en"), (11, None, "s", "en")],
        "doc_id bigint, text string, source string, lang string")
    sh = dedup.simhash(docs)
    assert dict(sh.dtypes)["doc_id"] == "bigint"
    assert {r.doc_id for r in sh.collect()} == {10}
    sig = dedup.minhash_signatures(docs)
    assert {r.doc_id for r in sig.collect()} == {10}


def test_np_xxh64_paths_match_spark(spark):
    """The numpy hashLong/hashInt reimplementations behind the minhash
    signature kernel are bit-exact vs Spark's xxhash64 on random longs
    (incl. negatives) and the chained (long, int-literal) composition
    the minhash family h_i(s) = xxhash64(s, i) uses."""
    from tsf.dedup import _np_xxh64_int, _np_xxh64_long
    rng = np.random.default_rng(7)
    vals = rng.integers(-(2 ** 63), 2 ** 63 - 1, 64, dtype=np.int64)
    vals[:4] = [0, -1, 2 ** 63 - 1, -(2 ** 63)]
    df = spark.createDataFrame([(int(v),) for v in vals], "v long")
    import pyspark.sql.functions as SF
    for i in (0, 1, 7, 31):
        want = [r[0] for r in df.select(
            SF.xxhash64("v", SF.lit(i))).collect()]
        t = _np_xxh64_long(vals.view(np.uint64), np.uint64(42))
        got = _np_xxh64_int(i, t).view(np.int64).tolist()
        assert got == want, i
    # bare xxhash64(v) == hashLong(v, 42)
    want = [r[0] for r in df.select(SF.xxhash64("v")).collect()]
    got = _np_xxh64_long(vals.view(np.uint64),
                         np.uint64(42)).view(np.int64).tolist()
    assert got == want


def _simhash_numpy(shingle_hashes):
    """Independent bit-majority recompute from 64-bit shingle hashes."""
    v = np.zeros(64, dtype=np.int64)
    for h in shingle_hashes:
        u = int(h) & 0xFFFFFFFFFFFFFFFF
        for j in range(64):
            v[j] += 1 if (u >> j) & 1 else -1
    out = 0
    for j in range(64):
        if v[j] > 0:
            out |= 1 << j
    return out - (1 << 64) if out >= (1 << 63) else out


def test_simhash_matches_numpy_recompute(spark, sf001):
    """Engine simhash (batched reduceat bit-majority Arrow kernel) ==
    independent per-doc numpy bit-majority over the SAME collected
    shingle hashes."""
    docs = spark.read.parquet(f"{sf001}/documents.parquet").limit(50)
    sh = (dedup._hashed_shingles(docs, 3)
          .select("doc_id", F.explode("ss").alias("shingle")).toPandas())
    got = {r["doc_id"]: r["simhash"]
           for r in dedup.simhash(docs).collect()}
    for doc_id, grp in sh.groupby("doc_id"):
        want = _simhash_numpy(grp["shingle"].tolist())
        assert got[doc_id] == want, doc_id


def test_simhash_near_dups_planted(spark):
    """Planted near-duplicates (1-2 word edits of a 60-word doc) land at
    small Hamming distance and the banded join finds exactly them."""
    import random
    rnd = random.Random(7)
    words = [f"w{rnd.randrange(3000)}" for _ in range(60)]
    base = " ".join(words)
    v1 = words.copy(); v1[30] = "CHANGED"
    v2 = words.copy(); v2[10] = "OTHER"; v2[50] = "EDIT"
    far = " ".join(f"q{rnd.randrange(3000)}" for _ in range(60))
    docs = spark.createDataFrame(
        [("a", base), ("b", " ".join(v1)), ("c", " ".join(v2)), ("z", far)],
        "doc_id string, text string")
    pairs = dedup.simhash_near_dups(docs, max_hamming=16, bands=32).toPandas()
    found = set(map(tuple, pairs[["doc_a", "doc_b"]].to_numpy()))
    assert ("a", "b") in found and ("a", "c") in found
    assert all("z" not in p for p in found)
    # hamming column is the true popcount of the sketch xor
    s = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    for _, row in pairs.iterrows():
        want = bin((s[row["doc_a"]] ^ s[row["doc_b"]])
                   & 0xFFFFFFFFFFFFFFFF).count("1")
        assert row["hamming"] == want


def test_simhash_banding_is_lossless_within_bound(spark):
    """Every pair within max_hamming shares >= 1 of 4 16-bit bands
    (pigeonhole) — brute-force cross-check on a real corpus slice."""
    docs = spark.createDataFrame(
        [(str(i), " ".join(f"t{(i * 7 + j) % 40}" for j in range(30)))
         for i in range(40)], "doc_id string, text string")
    s = {r["doc_id"]: r["simhash"] & 0xFFFFFFFFFFFFFFFF
         for r in dedup.simhash(docs).collect()}
    got = dedup.simhash_near_dups(docs, max_hamming=3).toPandas()
    found = set(map(tuple, got[["doc_a", "doc_b"]].to_numpy()))
    ids = sorted(s)
    want = {(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]
            if bin(s[a] ^ s[b]).count("1") <= 3}
    assert found == want


def test_preconditions_raise_under_python_O():
    """The dedup band/shingle preconditions and the NFD packing
    histogram check are exceptions, not asserts: under ``python -O``
    each still raises. They fire on the driver before any Spark action,
    so no session is started."""
    import os
    import subprocess
    import sys
    from pathlib import Path
    repo = str(Path(__file__).resolve().parents[1])
    code = f"""
import sys
sys.path.insert(0, {repo!r})
from tsf import dedup, sampling
calls = {{
    "simhash_near_dups max_hamming": lambda: dedup.simhash_near_dups(
        None, max_hamming=4, bands=4),
    "simhash_near_dups bands": lambda: dedup.simhash_near_dups(
        None, max_hamming=3, bands=5),
    "simhash_near_dups_duckdb bands": lambda: dedup.simhash_near_dups_duckdb(
        bands=5),
    "lsh_verified_pairs": lambda: dedup.lsh_verified_pairs(
        None, num_hashes=16, bands=5),
    "nfd_bin_states": lambda: sampling.nfd_bin_states([(5, 1)], 4),
}}
for fn in (dedup.minhash_signatures_duckdb, dedup.simhash_duckdb,
           dedup.minhash_pairs_duckdb, dedup.simhash_near_dups_duckdb,
           dedup.lsh_dedup_groups_duckdb, dedup.duplicate_groups_duckdb,
           dedup.ngram_jaccard_duckdb, dedup.containment_duckdb):
    calls[fn.__name__ + " k"] = lambda fn=fn: fn(k=4)
for name, call in calls.items():
    try:
        call()
        print(name, "NO ERROR")
    except ValueError:
        print(name, "RAISED")
"""
    env = {**os.environ, "PYTHONOPTIMIZE": "1",
           "PYTHONPATH": os.pathsep.join(
               [repo, os.environ.get("PYTHONPATH", "")])}
    r = subprocess.run([sys.executable, "-O", "-c", code], env=env,
                       capture_output=True, text=True, timeout=300)
    lines = r.stdout.splitlines()
    assert len(lines) == 13, (r.stdout, r.stderr[-2000:])
    assert all(line.endswith(" RAISED") for line in lines), r.stdout


def _planted_emb(spark, n_base=400, n_planted=10, dim=64, seed=11):
    """Random base vectors + near neighbors of the query at cos ~ 0.97
    (the angle regime sign-LSH serves; uniformly random vectors have
    nearest neighbors at cos ~ 0.3 where no sublinear LSH can work)."""
    rng = np.random.default_rng(seed)
    base = rng.standard_normal((n_base, dim))
    q = rng.standard_normal(dim)
    u = q / np.linalg.norm(q)
    planted = u[None, :] + 0.25 * rng.standard_normal((n_planted, dim)) / np.sqrt(dim)
    rows = [(i, [float(x) for x in v], 0) for i, v in enumerate(base)]
    rows += [(n_base + i, [float(x) for x in v], 1)
             for i, v in enumerate(planted)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    return emb, [float(x) for x in q]


def test_ann_lsh_recall_on_planted_neighbors(spark):
    emb, q = _planted_emb(spark)
    exact = [r["vec_id"] for r in
             similarity.cosine_topk(emb, q, k=10).collect()]
    ann = [r["vec_id"] for r in
           similarity.lsh_topk(emb, q, k=10, nbits=8, tables=3,
                               multiprobe=6).collect()]
    recall = len(set(exact) & set(ann)) / 10
    assert recall >= 0.9, (recall, exact, ann)
    # and it is genuinely sublinear: candidates are a small fraction
    n_cand = similarity.lsh_candidates(emb, q, nbits=8, tables=3,
                                       multiprobe=6).count()
    assert n_cand < 0.5 * 410, n_cand


def test_ann_multiprobe_knob_controls_probes(spark):
    """Round-1 defect: the multiprobe parameter was dead (any value
    selected all bit flips). Now the candidate set must grow with it."""
    emb, q = _planted_emb(spark)
    c0 = similarity.lsh_candidates(emb, q, multiprobe=0).count()
    c4 = similarity.lsh_candidates(emb, q, multiprobe=4).count()
    c8 = similarity.lsh_candidates(emb, q, multiprobe=8).count()
    assert c0 < c4 <= c8, (c0, c4, c8)


def test_pairwise_phase_sync_matches_o_n2_reference(spark):
    """Two-series PPC/PLV == the reference's O(N^2) pair-sum definition
    (ext/DSPExt.jl:16-32,41-44: feature of the phase-DIFFERENCE series),
    with the analytic phase computed once per series (SuperPairwise)."""
    from tsf import kernels as K
    from tsf import pairwise

    rng2 = np.random.default_rng(5)
    W = 64
    t = np.arange(W)
    xs = {
        "a": np.round(np.sin(2 * np.pi * t / 16) * 1000 + 2000),
        "b": np.round(np.sin(2 * np.pi * t / 16 + 0.7) * 900 + 2000),
        "c": np.round(rng2.uniform(0, 4000, W)),
    }
    rows = [(k, [int(v) for v in x], W, "s") for k, x in xs.items()]
    seq = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")
    got = {(r["doc_a"], r["doc_b"]): r
           for r in pairwise.pairwise_phase_sync(seq, window=W).collect()}
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "c")}

    def phase(x):
        ctx = K.WindowCtx(np.asarray(x, float)[None, :], np.array([W]))
        return ctx.get("analytic_phase")[0]

    for (da, db), r in got.items():
        delta = phase(xs[db]) - phase(xs[da])
        # O(N^2) PPC pair sum (Vinck eq. 14) + direct PLV
        acc = 0.0
        for i in range(W - 1):
            acc += np.cos(delta[i] - delta[i + 1:]).sum()
        ppc = 2.0 / (W * (W - 1)) * acc
        plv = np.abs(np.exp(1j * delta).mean())
        assert np.isclose(r["ppc"], ppc, atol=1e-6), (da, db)
        assert np.isclose(r["plv"], plv, atol=1e-6), (da, db)
    # locked sines are strongly synchronous; noise pairs are not
    assert got[("a", "b")]["ppc"] > 0.9
    assert got[("a", "c")]["ppc"] < got[("a", "b")]["ppc"] - 0.3


def test_embedding_near_dups_finds_planted_exact_dups(spark):
    """Identical embeddings land in identical buckets in EVERY hash table
    (sign-LSH is deterministic), so exact duplicates are always found;
    random vectors at cos ~ 0.3 don't cross the 0.9 threshold."""
    rng2 = np.random.default_rng(21)
    base = rng2.standard_normal((100, 64))
    rows = [(i, [float(x) for x in v], 0) for i, v in enumerate(base)]
    rows.append((100, rows[5][1], 1))          # exact dup of vec 5
    near = np.asarray(rows[7][1]) + 0.02 * rng2.standard_normal(64)
    rows.append((101, [float(x) for x in near], 1))  # near dup of vec 7
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    got = similarity.embedding_near_dups(emb, threshold=0.9).toPandas()
    pairs = set(map(tuple, got[["vec_a", "vec_b"]].to_numpy()))
    assert (5, 100) in pairs
    assert (7, 101) in pairs or len(pairs) >= 2  # near dup usually caught
    assert all(c >= 0.9 for c in got["cos"])


def test_ksg1_mi_matches_analytic_gaussian():
    """KSG1 estimator vs closed-form bivariate-Gaussian MI
    -0.5*ln(1-rho^2) (Kraskov 2004 eq. 8 is consistent for smooth
    densities) — the independent correctness anchor for mi_kraskov."""
    from tsf.pairwise import ksg1_mi_batch

    rng2 = np.random.default_rng(7)
    for rho in (0.5, 0.9):
        true = -0.5 * np.log(1.0 - rho * rho)
        ests = []
        for _ in range(4):
            x = rng2.standard_normal(2000)
            y = rho * x + np.sqrt(1 - rho * rho) * rng2.standard_normal(2000)
            ests.append(ksg1_mi_batch(x[None, :], y[None, :], 20)[0])
        assert abs(np.mean(ests) - true) < 0.05, (rho, np.mean(ests), true)


def test_ksg1_mi_reference_fixtures_and_batch_consistency():
    """The reference's AssociationsExt fixtures (test/runtests.jl:517-525):
    independent noise ~ 0; the deterministic sin^2/cos^3 pair is strongly
    dependent. The reference asserts > 3 nats for its Associations.jl KSG1;
    this paper-faithful strict-< implementation saturates at ~2.75 on that
    fixture (estimator-internals difference on near-deterministic data —
    the Gaussian analytic anchor above pins OUR estimator's calibration),
    so assert the qualitative contract. Batched eval must equal per-pair."""
    from tsf.pairwise import ksg1_mi_batch

    rng2 = np.random.default_rng(0)
    x = rng2.standard_normal((2, 1000))
    y = rng2.standard_normal((2, 1000))
    indep = ksg1_mi_batch(x, y, 20)
    assert np.all(np.abs(indep) < 0.1), indep

    t = np.arange(0.01, 10.005, 0.01)
    xs, yc = np.sin(t) ** 2, np.cos(t) ** 3
    dep = ksg1_mi_batch(xs[None, :], yc[None, :], 20)[0]
    assert dep > 2.5, dep

    # batch of heterogeneous pairs == each pair alone (no cross-pair bleed)
    X = np.stack([x[0], xs]); Y = np.stack([y[0], yc])
    both = ksg1_mi_batch(X, Y, 20)
    assert np.allclose(both, [indep[0], dep], atol=1e-12)


def test_ksg1_mi_matches_bruteforce_scalar():
    """Vectorized batch kernel == a from-scratch per-point scalar loop
    (independent reimplementation of KSG 2004 eq. 8)."""
    from tsf.pairwise import _digamma, ksg1_mi_batch

    rng2 = np.random.default_rng(3)
    x = rng2.uniform(size=200)
    y = 0.7 * x + 0.3 * rng2.uniform(size=200)
    k, N = 4, len(x)
    s = 0.0
    for i in range(N):
        dz = [max(abs(x[i] - x[j]), abs(y[i] - y[j]))
              for j in range(N) if j != i]
        eps = sorted(dz)[k - 1]
        nx = sum(1 for j in range(N) if j != i and abs(x[i] - x[j]) < eps)
        ny = sum(1 for j in range(N) if j != i and abs(y[i] - y[j]) < eps)
        s += (_digamma(np.array([nx + 1.0]))[0]
              + _digamma(np.array([ny + 1.0]))[0])
    want = (_digamma(np.array([float(k)]))[0]
            + _digamma(np.array([float(N)]))[0] - s / N)
    got = ksg1_mi_batch(x[None, :], y[None, :], k)[0]
    assert np.isclose(got, want, atol=1e-10), (got, want)


def test_pairwise_mi_spark_matches_kernel(spark):
    """pairwise_mi (JVM window slicing + self-join + Arrow kernel pass)
    == direct ksg1_mi_batch on the same aligned windows; the coupled pair
    scores far above the independent pair."""
    from tsf import pairwise

    rng2 = np.random.default_rng(11)
    W = 128
    base = rng2.standard_normal(2 * W)
    xs = {
        "a": np.round(base * 1000 + 5000),
        "b": np.round(base * 950 + rng2.standard_normal(2 * W) * 80 + 5000),
        "c": np.round(rng2.uniform(0, 10000, 2 * W)),
    }
    rows = [(k, [int(v) for v in x], 2 * W, "s") for k, x in xs.items()]
    seq = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")
    got = {(r["doc_a"], r["doc_b"]): r
           for r in pairwise.pairwise_mi(seq, window=W, k=5).collect()}
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "c")}
    for (da, db), r in got.items():
        assert r["n_windows"] == 2
        wa = np.stack([xs[da][:W], xs[da][W:]]).astype(float)
        wb = np.stack([xs[db][:W], xs[db][W:]]).astype(float)
        from tsf.pairwise import ksg1_mi_batch
        want = round(float(ksg1_mi_batch(wa, wb, 5).mean()), 6)
        assert np.isclose(r["mi"], want, atol=1e-6), (da, db, r["mi"], want)
    assert got[("a", "b")]["mi"] > got[("a", "c")]["mi"] + 1.0


def test_ngram_jaccard_positional_filter_lossless(spark):
    """PPJoin positional filter must not change results — equality with
    the filter disabled on a LOW-VOCABULARY corpus (each doc samples 3-grams
    from a tiny word pool, the worst case where bare prefix joins saturate
    and the positional bound does the pruning)."""
    rng2 = np.random.default_rng(13)
    vocab = [f"w{i}" for i in range(30)]
    texts = {}
    for i in range(60):
        words = rng2.choice(vocab, size=rng2.integers(20, 60)).tolist()
        texts[f"d{i}"] = " ".join(words)
    # planted near-dup: d100 = d0 with 3 words changed
    w0 = texts["d0"].split()
    w0[5], w0[9], w0[11] = "zz1", "zz2", "zz3"
    texts["d100"] = " ".join(w0)
    docs = spark.createDataFrame(
        [(k, v, "s", "en") for k, v in texts.items()],
        "doc_id string, text string, source string, lang string")
    on = dedup.ngram_jaccard_pairs(docs, 0.3).toPandas()
    off = dedup.ngram_jaccard_pairs(docs, 0.3, positional=False).toPandas()
    key = lambda df: set(map(tuple, df[["doc_a", "doc_b", "jaccard"]]
                             .astype(str).to_numpy()))
    assert key(on) == key(off)
    assert {("d0", "d100"), ("d100", "d0")} & set(
        map(tuple, on[["doc_a", "doc_b"]].to_numpy()))


def test_pairwise_features_set_matches_individual_operators(spark):
    """SuperPairwiseFeatureSet evaluation (one super pass + one join for
    ALL leaves) must equal the single-feature operators: plv/ppc vs
    pairwise_phase_sync, mi vs pairwise_mi, pearson/cov vs numpy on the
    same aligned windows."""
    from tsf import pairwise

    rng2 = np.random.default_rng(17)
    W = 64
    base = rng2.standard_normal(2 * W)
    xs = {
        "a": np.round(base * 1000 + 5000),
        "b": np.round(base * 900 + rng2.standard_normal(2 * W) * 120 + 5000),
        "c": np.round(rng2.uniform(0, 10000, 2 * W)),
    }
    rows = [(k, [int(v) for v in x], 2 * W, "s") for k, x in xs.items()]
    seq = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")

    got = {(r["doc_a"], r["doc_b"]): r
           for r in pairwise.pairwise_features(
               seq, ("pearson", "cov", "plv", "ppc", "mi"),
               window=W, k_mi=5).collect()}
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "c")}

    ps = {(r["doc_a"], r["doc_b"]): r
          for r in pairwise.pairwise_phase_sync(seq, window=W).collect()}
    mi = {(r["doc_a"], r["doc_b"]): r
          for r in pairwise.pairwise_mi(seq, window=W, k=5).collect()}
    for pair, r in got.items():
        assert r["n_windows"] == 2
        assert np.isclose(r["plv"], ps[pair]["plv"], atol=1e-6), pair
        assert np.isclose(r["ppc"], ps[pair]["ppc"], atol=1e-6), pair
        assert np.isclose(r["mi"], mi[pair]["mi"], atol=1e-6), pair
        da, db = pair
        pe, cv = [], []
        for w0 in (0, W):
            wa = xs[da][w0:w0 + W].astype(float)
            wb = xs[db][w0:w0 + W].astype(float)
            pe.append(np.corrcoef(wa, wb)[0, 1])
            cv.append(np.cov(wa, wb, ddof=1)[0, 1])
        assert np.isclose(r["pearson"], round(np.mean(pe), 6),
                          atol=1e-6), pair
        assert np.isclose(r["cov"], round(np.mean(cv), 6), atol=1e-6), pair

    # subset requests skip the unneeded supers and columns
    sub = pairwise.pairwise_features(seq, ("pearson",), window=W).columns
    assert sub == ["source", "doc_a", "doc_b", "n_windows", "pearson"]


def test_ksg1_mi_degenerate_pairs_are_nan():
    """>= k identical joint points collapse the KSG density assumption
    (eps=0): the pair must report NaN, never inf (regression: negative
    neighbour counts drove digamma(0) -> -inf -> MI=+inf)."""
    from tsf.pairwise import ksg1_mi_batch

    const = np.full((1, 64), 7.0)
    assert np.isnan(ksg1_mi_batch(const, const.copy(), 20))[0]
    rng2 = np.random.default_rng(5)
    binary = rng2.integers(0, 2, (1, 100)).astype(float)
    assert np.isnan(ksg1_mi_batch(binary, binary[:, ::-1].copy(), 20))[0]
    # a continuous pair in the same batch is unaffected
    x = rng2.standard_normal((1, 100))
    both = ksg1_mi_batch(np.vstack([const[:, :100][:, :64], x[:, :64]]),
                         np.vstack([const[:, :64], x[:, :64] * 0.5]), 5)
    assert np.isnan(both[0]) and np.isfinite(both[1])


def test_ivf_topk_planted_clusters(spark):
    """IVF with nprobe=1 must retrieve neighbors planted in the query's
    own cell; nprobe=n_centroids degrades to exact search (same result
    set as cosine_topk)."""
    rng2 = np.random.default_rng(29)
    n_cent, dim = 4, 32
    cents = rng2.standard_normal((n_cent, dim)) * 3
    rows = []
    for i in range(n_cent):  # vec_id < n_centroids are the centroids
        rows.append((i, [float(x) for x in cents[i]], 0))
    vid = n_cent
    for i in range(n_cent):
        for _ in range(20):  # tight cluster around each centroid
            v = cents[i] + 0.1 * rng2.standard_normal(dim)
            rows.append((vid, [float(x) for x in v], i)); vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    q = [float(x) for x in (cents[2] + 0.05 * rng2.standard_normal(dim))]

    got1 = similarity.ivf_topk(emb, q, k=10, n_centroids=n_cent,
                               nprobe=1).toPandas()
    labels = {r[2] for r in rows if r[0] in set(got1.vec_id)}
    assert labels <= {0, 2}  # cluster-2 members (+ centroid rows, label 0)
    assert (got1.cos > 0.9).sum() >= 5

    exact = similarity.cosine_topk(emb, q, 10).toPandas()
    full = similarity.ivf_topk(emb, q, k=10, n_centroids=n_cent,
                               nprobe=n_cent).toPandas()
    assert list(full.vec_id) == list(exact.vec_id)

    # assignment: every clustered vector lands in its own centroid's cell
    cl = similarity.ivf_cells(
        emb, similarity.ivf_centroids(emb, n_cent)).toPandas()
    clustered = cl[cl.vec_id >= n_cent]
    assert (clustered.cell == clustered.label).mean() > 0.95


def test_pairwise_mi_degenerate_window_avg_semantics(spark):
    """Operator-level contract for degenerate windows: the kernel's NaN
    crosses Arrow as SQL NULL, F.avg skips it (SQL semantics), n_windows
    still counts aligned windows; a pair with ONLY degenerate windows
    reports NULL mi."""
    from tsf import pairwise
    from tsf.pairwise import ksg1_mi_batch

    W = 32
    rng2 = np.random.default_rng(41)
    good_a = np.round(rng2.uniform(0, 1000, W))
    good_b = np.round(good_a * 0.9 + rng2.uniform(0, 100, W))
    const = np.full(W, 5.0)
    # doc a/b: window0 = continuous pair, window1 = constant pair
    xa = np.concatenate([good_a, const])
    xb = np.concatenate([good_b, const])
    rows = [("a", [int(v) for v in xa], 2 * W, "s"),
            ("b", [int(v) for v in xb], 2 * W, "s"),
            ("c", [int(v) for v in const] * 2, 2 * W, "s"),
            ("d", [int(v) for v in const + 1] * 2, 2 * W, "s")]
    seq = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")
    got = {(r["doc_a"], r["doc_b"]): r
           for r in pairwise.pairwise_mi(seq, window=W, k=4).collect()}
    r = got[("a", "b")]
    want = round(float(ksg1_mi_batch(good_a[None, :], good_b[None, :], 4)[0]), 6)
    assert r["n_windows"] == 2  # aligned windows, including the skipped one
    assert np.isclose(r["mi"], want, atol=1e-6)  # avg over DEFINED windows
    # x vs a constant: eps comes from the continuous joint side, MI ~ 0
    rc = got[("a", "c")]
    assert rc["n_windows"] == 2 and abs(rc["mi"]) < 0.3
    # BOTH series constant in every window -> every window degenerate ->
    # NULL mi, n_windows intact
    rd = got[("c", "d")]
    assert rd["n_windows"] == 2 and rd["mi"] is None


def test_ksg1_mi_chunked_equals_dense_and_scales():
    """The row-chunked large-window path must produce bit-identical MI to
    the dense (B,N,N) path, handle N where dense tensors would be
    hundreds of MB, and preserve the degenerate->NaN contract."""
    from tsf.pairwise import _ksg1_mi_single_chunked, ksg1_mi_batch

    rng2 = np.random.default_rng(5)
    for N in (300, 1500):
        x = rng2.standard_normal(N)
        y = 0.6 * x + 0.4 * rng2.standard_normal(N)
        dense = ksg1_mi_batch(x[None, :], y[None, :], 20)[0]
        chunked = _ksg1_mi_single_chunked(x, y, 20)
        assert np.isclose(dense, chunked, atol=1e-12), N
    x = rng2.standard_normal(6000)
    y = 0.6 * x + 0.4 * rng2.standard_normal(6000)
    big = ksg1_mi_batch(x[None, :], y[None, :], 20)  # auto-chunked
    assert np.isfinite(big[0]) and 0.2 < big[0] < 1.5
    c = np.full(6000, 3.0)
    assert np.isnan(ksg1_mi_batch(c[None, :], c[None, :].copy(), 20))[0]


def test_ivf_indexed_matches_direct_and_prunes_partitions(spark, tmp_path):
    """The persisted IVF index returns the same top-k as the direct
    operator, and the query plan prunes to the probed cell PARTITIONS
    (file skipping, not a post-scan filter)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in emb.where("vec_id = 0")
         .select("embedding").first()[0]]
    idx = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb, idx, n_centroids=8)
    got = similarity.ivf_topk_indexed(spark, idx, q, k=10,
                                      nprobe=3).toPandas()
    direct = similarity.ivf_topk(emb, q, k=10, n_centroids=8,
                                 nprobe=3).toPandas()
    assert list(got.vec_id) == list(direct.vec_id)
    assert np.allclose(got.cos, direct.cos, atol=1e-9)
    # partition pruning visible in the plan: cell is a partition filter
    cand = similarity.ivf_topk_indexed(spark, idx, q, k=10, nprobe=3)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters")[1][:200], plan


def test_lsh_indexed_matches_direct_and_prunes_partitions(spark, tmp_path):
    """The persisted LSH index: identical top-k to the direct operator;
    the table-0 probe branch prunes bucket_0 PARTITIONS."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in emb.where("vec_id = 0")
         .select("embedding").first()[0]]
    idx = str(tmp_path / "lsh")
    similarity.build_lsh_index(emb, idx)
    got = similarity.lsh_topk_indexed(spark, idx, q, k=10).toPandas()
    direct = similarity.lsh_topk(emb, q, k=10).toPandas()
    assert list(got.vec_id) == list(direct.vec_id)
    assert np.allclose(got.cos, direct.cos, atol=1e-9)
    plan = similarity.lsh_topk_indexed(spark, idx, q, k=10) \
        ._jdf.queryExecution().executedPlan().toString()
    pf = [seg for seg in plan.split("PartitionFilters")[1:]]
    assert any("bucket_0" in seg[:250] for seg in pf), plan


def test_ivf_trained_centroids_recover_planted_clusters(spark):
    """MLlib-trained coarse quantizer: on planted angular clusters the
    learned centers align with the true ones (cos > 0.95 each) and feed
    the existing IVF machinery unchanged (nprobe=1 retrieves the
    query's own cluster)."""
    rng2 = np.random.default_rng(33)
    true = rng2.standard_normal((4, 32)) * 3
    rows = []
    vid = 0
    for i in range(4):
        for _ in range(30):
            v = true[i] + 0.15 * rng2.standard_normal(32)
            rows.append((vid, [float(x) for x in v], i)); vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    cents = similarity.ivf_train_centroids(emb, k=4, seed=11)
    cn = np.asarray(cents)
    tn = true / np.linalg.norm(true, axis=1, keepdims=True)
    cnn = cn / np.linalg.norm(cn, axis=1, keepdims=True)
    # every true center has a learned center within cos 0.95
    best = (tn @ cnn.T).max(axis=1)
    assert (best > 0.95).all(), best
    q = [float(x) for x in (true[1] + 0.1 * rng2.standard_normal(32))]
    got = similarity.ivf_topk(emb, q, k=10, nprobe=1,
                              cents=cents).toPandas()
    labels = {r[2] for r in rows if r[0] in set(got.vec_id)}
    assert labels == {1}, labels


def test_ivf_trained_quantizer_balances_skewed_occupancy(spark):
    """The k-means quantizer's reason to exist: when the first-N vec_ids
    all sit in ONE angular cluster (a realistic ingest order), the
    deterministic first-N rule yields near-duplicate centroids and piles
    most of the corpus into few cells, while trained centers place one
    per true cluster — max cell share drops toward 1/k and a
    minority-cluster query's nprobe=1 scan shrinks accordingly."""
    rng = np.random.default_rng(44)
    true = rng.standard_normal((4, 16)) * 3
    rows, vid = [], 0
    for i in (0, 1, 2, 3):          # 50 vectors per cluster, cluster 0
        for _ in range(50):         # first => vec_id < 4 all cluster 0
            v = true[i] + 0.15 * rng.standard_normal(16)
            rows.append((vid, [float(x) for x in v], i))
            vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    det = similarity.ivf_centroids(emb, 4)
    km = similarity.ivf_train_centroids(emb, k=4, seed=11)

    def max_frac(cents):
        occ = (similarity.ivf_cells(emb, cents)
               .groupBy("cell").count().toPandas())
        return occ["count"].max() / len(rows)

    # deterministic: 4 near-duplicate cluster-0 centroids -> the other
    # three clusters (150 rows) collapse onto whichever near-identical
    # cell wins the tie; trained: ~one center per cluster -> ~1/4 each
    assert max_frac(det) >= 0.45, max_frac(det)
    assert max_frac(km) <= 0.35, max_frac(km)
    # a minority-cluster query at nprobe=1 scans ~its own cluster only
    q = [float(x) for x in (true[2] + 0.1 * rng.standard_normal(16))]
    km_scan = similarity.ivf_candidates(emb, q, nprobe=1,
                                        cents=km).count() / len(rows)
    det_scan = similarity.ivf_candidates(emb, q, nprobe=1,
                                         cents=det).count() / len(rows)
    assert km_scan <= 0.35, km_scan
    assert km_scan <= det_scan, (km_scan, det_scan)


def test_word_freq_stats_hand_computed(spark):
    """Corpus: 'a' x3 + 'b' x2 + 'c' x1 across three docs, vocab_k=2 so
    'c' is OOV ('a' and 'b' make the top-2; tie impossible here). One
    empty doc is kept with all-zero signals."""
    df = spark.createDataFrame(
        [("d1", "a a b"), ("d2", "a b c"), ("d3", ""), ],
        "doc_id string, text string")
    out = {r["doc_id"]: r for r in
           textstats.word_freq_stats(df, vocab_k=2).collect()}
    # corpus counts: a=3, b=2, c=1; N=6
    d1 = out["d1"]
    assert (d1["n_words"], d1["n_oov"], d1["sum_freq"]) == (3, 0, 8)
    import math
    assert d1["mean_freq_ppm"] == math.floor(8e6 / 18 * 1e6 + 0.5) / 1e6
    d2 = out["d2"]
    assert (d2["n_words"], d2["n_oov"], d2["sum_freq"]) == (3, 1, 5)
    d3 = out["d3"]
    assert (d3["n_words"], d3["n_oov"], d3["sum_freq"]) == (0, 0, 0)
    assert d3["mean_freq_ppm"] == 0.0


def test_word_freq_stats_plan_broadcasts_vocab(spark, sf001):
    """Scale shape: top-K vocab via TakeOrderedAndProject (never a
    global vocabulary sort), probe side joins it with a
    BroadcastHashJoin, and no raw-text column crosses an Exchange."""
    import __spark_entry__ as entrymod
    df = entrymod.q_word_freq_stats(spark, sf001)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    import re
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]+)", plan):
        assert "text" not in m.group(1), m.group(1)


def test_xxh64_sql_replays_spark_xxhash64(spark):
    """tsf/xxh64_sql.py vs Spark's built-in xxhash64, all three column
    paths: strings of every tail shape (empty, <32, ==32, >32, multi-
    stripe, unicode), longs incl. negatives/extremes, and the
    long-then-int composition minhash signatures use."""
    import duckdb
    import pandas as _pd

    from tsf.xxh64_sql import (hash_bytes_layers, hash_int_layers,
                               hash_long_layers)
    strings = ["", "a", "abc", "hello world", "x" * 31, "y" * 32,
               "z" * 33, "lorem ipsum dolor sit amet " * 4,
               "naïve café – ünïcode ñ", "tab\tnewline\nmix",
               "q" * 63, "r" * 64, "s" * 65, "t" * 100]
    longs = [0, 1, -1, 42, 2 ** 62, -2 ** 62, 123456789123456789, -98765]
    sdf = spark.createDataFrame(list(enumerate(strings)),
                                "id long, s string")
    truth_s = {r["id"]: r["h"] for r in
               sdf.select("id", F.xxhash64("s").alias("h")).collect()}
    ldf = spark.createDataFrame(list(enumerate(longs)), "id long, l long")
    truth_p = {(r["id"], iv): r["h"] for iv in (0, 7, 31) for r in
               ldf.select("id", F.xxhash64("l", F.lit(iv)).alias("h"))
               .collect()}
    con = duckdb.connect()
    con.register("t_str", _pd.DataFrame({"id": range(len(strings)),
                                         "s": strings}))
    con.register("t_long", _pd.DataFrame({"id": range(len(longs)),
                                          "l": longs}))
    q = hash_bytes_layers("SELECT id, s FROM t_str", "s", "h", "q")
    got = dict(con.execute(f"SELECT id, h FROM ({q})").fetchall())
    assert got == truth_s
    for iv in (0, 7, 31):
        q = hash_long_layers("SELECT id, l FROM t_long", "l", "42",
                             "h1", "q1")
        q = hash_int_layers(q, str(iv), "h1", "h", "q2")
        got = dict(con.execute(f"SELECT id, h FROM ({q})").fetchall())
        assert got == {i: truth_p[(i, iv)] for i in got}, iv


def test_shingles_standard_convention(spark):
    """Standard w-shingling: start positions 1..size-k+1 — a doc of
    exactly k words yields its one shingle (the final k-gram is no longer
    dropped); < k words yields none. Each shingle is the xxhash64 of its
    space-joined gram."""
    docs = spark.createDataFrame(
        [("a", "w1 w2 w3"), ("b", "w1 w2 w3 w4"), ("c", "w1 w2")],
        "doc_id string, text string")
    grams = {"a": ["w1 w2 w3"], "b": ["w1 w2 w3", "w2 w3 w4"], "c": []}
    h = {r["g"]: r["h"] for r in spark.createDataFrame(
        [("w1 w2 w3",), ("w2 w3 w4",)], "g string")
        .select("g", F.xxhash64("g").alias("h")).collect()}
    got = {r["doc_id"]: sorted(r["ss"])
           for r in dedup._hashed_shingles(docs, 3).collect()}
    assert got == {d: sorted(h[g] for g in gs) for d, gs in grams.items()}


def test_check_queries_return_production_sketches(spark, sf001):
    """The minhash_check and simhash_check contract queries return
    exactly the production minhash_signatures (3-word shingles, 8
    hashes, one row per signature entry) and simhash sketches, so their
    DuckDB oracles check what production runs."""
    import __spark_entry__ as entrymod
    docs = spark.read.parquet(f"{sf001}/documents.parquet")
    qs = entrymod.queries()
    got = sorted(map(tuple, qs["minhash_check"](spark, sf001).collect()))
    want = sorted((r["doc_id"], i, m)
                  for r in dedup.minhash_signatures(docs, 3, 8).collect()
                  for i, m in enumerate(r["sig"]))
    assert len(want) > 0 and got == want
    got = sorted(map(tuple, qs["simhash_check"](spark, sf001).collect()))
    want = sorted(map(tuple, dedup.simhash(docs).collect()))
    assert len(want) > 0 and got == want


def test_persist_scope_releases_operator_caches(spark, sf001):
    """Operator-internal scoped persists are live during the terminal
    action and fully released when the persist_scope closes — no cache
    entry outlives its query."""
    from tsf.caching import persist_scope
    docs = spark.read.parquet(f"{sf001}/documents.parquet").limit(40)
    # relative to whatever earlier tests left cached (session fixture)
    base = spark.sparkContext._jsc.getPersistentRDDs().size()
    with persist_scope():
        dedup.minhash_pairs(docs, threshold=0.0).count()
        assert spark.sparkContext._jsc.getPersistentRDDs().size() > base
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == base
    with persist_scope():
        dedup.ngram_jaccard_pairs(docs, threshold=0.2).count()
        dedup.simhash_near_dups(docs).count()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == base


def test_duplicate_groups_components(spark):
    """Connected components over planted pair evidence: a triangle-free
    CHAIN (pointer jumping must close it), a pair, and singletons."""
    docs = spark.createDataFrame(
        [(f"d{i:02d}",) for i in range(12)], "doc_id string")
    # chain d00-d01-...-d07 (diameter 7), pair d08-d09; d10, d11 alone
    pairs = spark.createDataFrame(
        [(f"d{i:02d}", f"d{i+1:02d}") for i in range(7)]
        + [("d08", "d09")], "doc_a string, doc_b string")
    got = {r["doc_id"]: r["group_id"]
           for r in dedup.duplicate_groups(docs, pairs, max_iter=6).collect()}
    assert all(got[f"d{i:02d}"] == "d00" for i in range(8))
    assert got["d08"] == got["d09"] == "d08"
    assert got["d10"] == "d10" and got["d11"] == "d11"
    assert len(got) == 12


def test_duplicate_groups_drops_pairs_outside_docs(spark):
    """An endpoint outside docs — sorting below every doc id and linking
    d01 and d02 — neither appears as a row nor bridges the two docs."""
    docs = spark.createDataFrame(
        [(f"d{i:02d}",) for i in range(4)], "doc_id string")
    pairs = spark.createDataFrame(
        [("a00", "d01"), ("d02", "a00"), ("d02", "d03")],
        "doc_a string, doc_b string")
    got = {r["doc_id"]: r["group_id"]
           for r in dedup.duplicate_groups(docs, pairs).collect()}
    assert got == {"d00": "d00", "d01": "d01", "d02": "d02", "d03": "d02"}


def test_duplicate_groups_end_to_end_ngram(spark):
    """Planted near-duplicate cluster flows pairs -> groups: the three
    variants collapse onto one keeper; unrelated docs stay singleton."""
    import random
    rnd = random.Random(3)
    words = [f"w{rnd.randrange(2000)}" for _ in range(50)]
    base = " ".join(words)
    v1 = words.copy(); v1[10] = "X"
    v2 = words.copy(); v2[20] = "Y"; v2[30] = "Z"
    far = " ".join(f"q{rnd.randrange(2000)}" for _ in range(50))
    docs = spark.createDataFrame(
        [("a", base), ("b", " ".join(v1)), ("c", " ".join(v2)), ("z", far)],
        "doc_id string, text string")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    got = {r["doc_id"]: r["group_id"]
           for r in dedup.duplicate_groups(docs, pairs).collect()}
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["z"] == "z"

def test_lsh_dedup_groups_planted_recall(spark):
    """Production (xxhash64) LSH->verify->CC on a planted-dup corpus:
    every planted variant group collapses onto its keeper (recall 1.0 at
    high jaccard with 8 single-row bands), unrelated docs stay
    singleton, and every surviving pair's jaccard is EXACT (>= t)."""
    import random
    rnd = random.Random(7)
    rows, want_groups = [], {}
    for g in range(12):
        words = [f"w{rnd.randrange(5000)}" for _ in range(60)]
        keeper = f"g{g:02d}_0"
        for v in range(3):
            ws = words.copy()
            if v:                      # 2 edits: jaccard ~ .84
                ws[7] = f"X{v}"; ws[33] = f"Y{v}"
            did = f"g{g:02d}_{v}"
            rows.append((did, " ".join(ws)))
            want_groups[did] = keeper
    for i in range(30):                # unrelated singletons
        rows.append((f"s{i:02d}",
                     " ".join(f"u{rnd.randrange(5000)}"
                              for _ in range(60))))
        want_groups[f"s{i:02d}"] = f"s{i:02d}"
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["doc_id"]: r["group_id"]
           for r in dedup.lsh_dedup_groups(docs, threshold=0.5).collect()}
    hits = sum(got[d] == g for d, g in want_groups.items())
    assert hits == len(want_groups), \
        f"recall {hits}/{len(want_groups)}"
    # verified pairs carry exact jaccard >= threshold
    pj = dedup.lsh_verified_pairs(docs, threshold=0.5).collect()
    assert pj and all(r["jaccard"] >= 0.5 for r in pj)


def test_duplicate_groups_reliable_checkpoint_long_chain(spark, tmp_path):
    """Cluster-durability path: a diameter-40 chain (multi-round
    convergence) through RELIABLE checkpointing — files land in the
    checkpoint dir and the components still close."""
    n = 41
    docs = spark.createDataFrame(
        [(f"d{i:03d}",) for i in range(n)], "doc_id string")
    pairs = spark.createDataFrame(
        [(f"d{i:03d}", f"d{i+1:03d}") for i in range(n - 1)],
        "doc_a string, doc_b string")
    ckpt = str(tmp_path / "cc_ckpt")
    got = {r["doc_id"]: r["group_id"]
           for r in dedup.duplicate_groups(
               docs, pairs, max_iter=12,
               checkpoint_dir=ckpt).collect()}
    assert all(v == "d000" for v in got.values()) and len(got) == n
    import os
    assert any(files for _, _, files in os.walk(ckpt)), \
        "reliable checkpoint wrote nothing"


def test_duplicate_groups_raises_on_exhaustion(spark):
    """max_iter exhaustion must raise, not silently return non-component
    labels (a chain of diameter 7 cannot converge in one round)."""
    import pytest as _pytest
    docs = spark.createDataFrame(
        [(f"d{i:02d}",) for i in range(8)], "doc_id string")
    pairs = spark.createDataFrame(
        [(f"d{i:02d}", f"d{i+1:02d}") for i in range(7)],
        "doc_a string, doc_b string")
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.duplicate_groups(docs, pairs, max_iter=1)


def test_cross_source_dup_matrix_planted(spark):
    """Planted cross-source near-dups under the production xxhash64
    family: a base doc in src_a with one near-copy in src_b and one in
    src_a itself, plus unrelated docs in both sources. Expect exactly
    the (a,a) self-dup pair, the (a,b) cross pair, the (a,b) transitive
    copy1-copy2 pair, and the right distinct-doc counts; no (b,b) row."""
    import random
    rnd = random.Random(11)
    words = [f"w{rnd.randrange(5000)}" for _ in range(60)]
    v1 = words.copy(); v1[7] = "X"
    v2 = words.copy(); v2[33] = "Y"
    rows = [("d0", " ".join(words), "src_a"),
            ("d1", " ".join(v1), "src_a"),
            ("d2", " ".join(v2), "src_b")]
    for i in range(10):
        rows.append((f"u{i}", " ".join(
            f"q{rnd.randrange(5000)}" for _ in range(60)),
            "src_a" if i % 2 else "src_b"))
    docs = spark.createDataFrame(rows, "doc_id string, text string, "
                                       "source string")
    got = {(r["source_a"], r["source_b"]): (r["n_pairs"], r["n_docs"])
           for r in dedup.cross_source_dup_matrix(
               docs, threshold=0.5).collect()}
    # pairs: (d0,d1) within src_a; (d0,d2) and (d1,d2) straddling
    assert got == {("src_a", "src_a"): (1, 2),
                   ("src_a", "src_b"): (2, 3)}


def test_cross_source_dup_matrix_plan_bounded(spark):
    """Scale-shape pin: no cartesian product / nested-loop join anywhere
    (candidates come from banded equi-joins; the matrix side is doc-keyed
    equi-joins + source-pair aggregates)."""
    docs = spark.createDataFrame(
        [("a", "x y z w v u t s", "s1"), ("b", "p q r m n o k j", "s2")],
        "doc_id string, text string, source string")
    plan = dedup.cross_source_dup_matrix(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" \
        not in plan


def test_repetition_signals_hand_computed(spark):
    # doc "a": 6 words, "x y" repeated 3x -> top 2-gram "x y" covers
    #   3 * 2 = 6 of 6 word chars; every word repeats 3x -> mwf 3/6
    # doc "b": no repetition at all
    # doc "c": a single word (no 2-grams, no 5-grams)
    df = spark.createDataFrame(
        [("a", "x y x y x y"),
         ("b", "one two three four five six seven"),
         ("c", "solo")],
        "doc_id string, text string")
    out = {r["doc_id"]: r
           for r in textstats.with_repetition_signals(df).collect()}
    a = out["a"]
    assert a["n_words"] == 6
    assert a["top2gram_char_frac"] == 1.0          # 3 * ("x y"->2 chars) / 6
    assert a["max_word_frac"] == 0.5               # "x" (or "y") 3/6
    # 5-grams of a: "x y x y x", "y x y x y" — each appears once -> 0
    assert a["dup5gram_char_frac"] == 0.0
    assert not a["gopher_pass"]
    b = out["b"]
    assert b["dup5gram_char_frac"] == 0.0
    assert b["gopher_pass"]
    c = out["c"]
    assert c["n_words"] == 1
    assert c["top2gram_char_frac"] == 0.0
    assert c["max_word_frac"] == 1.0


def test_repetition_signals_duplicate_5gram(spark):
    # "a b c d e" occurs twice (positions 0 and 5), total word chars = 10
    # dup 5-gram covered chars = 2 occurrences * 5 chars = 10 -> frac 1.0
    df = spark.createDataFrame([("d", "a b c d e a b c d e")],
                               "doc_id string, text string")
    r = textstats.with_repetition_signals(df).collect()[0]
    assert r["dup5gram_char_frac"] == 1.0
    assert not r["gopher_pass"]


def test_decontam_overlap_planted(spark):
    # bench doc 0 shares its 8-gram run with doc 10 (a replica) but not
    # with doc 11; doc 0 itself must be excluded from the output
    words = " ".join(f"w{i}" for i in range(12))
    other = " ".join(f"v{i}" for i in range(12))
    df = spark.createDataFrame(
        [(0, words), (10, words), (11, other)],
        "doc_id long, text string")
    bench = df.where("doc_id = 0")
    out = textstats.decontam_overlap(df, bench, n=8).collect()
    assert len(out) == 1
    r = out[0]
    assert r["doc_id"] == 10
    # 12 words -> 5 distinct 8-grams, all shared
    assert r["n_overlap"] == 5
    assert r["first_gram"].startswith("w0 ")


def test_decontam_overlap_plan_broadcasts_bench(spark):
    words = " ".join(f"w{i}" for i in range(12))
    df = spark.createDataFrame([(i, words) for i in range(20)],
                               "doc_id long, text string")
    out = textstats.decontam_overlap(df, df.where("doc_id = 0"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    # both joins (bench-id anti-join AND gram semi-side) broadcast
    assert plan.count("BroadcastHashJoin") >= 2, plan
    # exactly two hash-partitioned Exchanges: the tiny bench-gram dedup
    # (pre-broadcast, eval-set-sized) and the final per-doc aggregate.
    # A corpus-wide .distinct() before the gram join would add a third,
    # on the composite (doc_id, gram) key, shuffling raw gram text —
    # per-doc dedup must stay row-local (array_distinct before explode).
    assert plan.count("Exchange hashpartitioning") == 2, plan
    import re
    keys = re.findall(r"Exchange hashpartitioning\(([^)]+)", plan)
    assert not any("gram" in k and "doc" in k for k in keys), keys


def test_dup_span_stats_planted(spark):
    """Plant an exact 20-token span shared by two docs (at different
    offsets) plus one unique doc: both sharers report the span
    positions and the exact covered-token fraction (interval union of
    the L-wide windows); the unique doc reports zeros; a doc shorter
    than L survives with zero spans."""
    shared = list(range(100, 120))                   # the planted span
    d1 = list(range(40)) + shared + list(range(60, 80))
    d2 = list(range(200, 230)) + shared
    d3 = list(range(300, 380))
    d4 = [1, 2, 3]
    rows = [("a", d1), ("b", d2), ("c", d3), ("s", d4)]
    seq = spark.createDataFrame(
        [(d, t, len(t), "src") for d, t in rows],
        "doc_id string, tokens array<int>, n_tok int, source string")
    out = {r["doc_id"]: r for r in dedup.dup_span_stats(seq, L=20).collect()}
    # exactly one 20-token window of each sharer matches (the planted
    # span itself: any shifted window mixes planted and private tokens)
    assert out["a"]["n_dup_spans"] == 1
    assert out["b"]["n_dup_spans"] == 1
    assert out["a"]["dup_token_frac"] == round(20 / 80, 6)   # 80 tokens
    assert out["b"]["dup_token_frac"] == round(20 / 50, 6)   # 50 tokens
    assert out["c"]["n_dup_spans"] == 0
    assert out["c"]["dup_token_frac"] == 0.0
    assert out["s"]["n_spans"] == 0 and out["s"]["n_dup_spans"] == 0


def test_dup_span_stats_interval_union(spark):
    """Overlapping duplicated spans union, not double-count: a doc that
    is one long self-repeat (the same 20-token block back to back) has
    EVERY position duplicated and coverage 1.0."""
    block = list(range(500, 520))
    seq = spark.createDataFrame(
        [("r", block * 3, 60, "src"),
         ("u", list(range(700, 760)), 60, "src")],
        "doc_id string, tokens array<int>, n_tok int, source string")
    out = {r["doc_id"]: r for r in dedup.dup_span_stats(seq, L=20).collect()}
    r = out["r"]
    # positions 1..41: every window repeats 20 positions later (period
    # 20), so all 41 spans are duplicated and the union covers all 60
    assert r["n_spans"] == 41 and r["n_dup_spans"] == 41
    assert r["dup_token_frac"] == 1.0
    assert out["u"]["n_dup_spans"] == 0


# --------------------------------------------- incremental minhash index

def test_incremental_dedup_finds_planted_dup(spark, tmp_path):
    from pyspark.sql import Row
    from tsf.dedup import build_minhash_index, dedup_against_index
    words = lambda seed: " ".join(f"w{seed}x{i}" for i in range(40))
    corpus = spark.createDataFrame(
        [Row(doc_id=i, text=words(i)) for i in range(20)])
    p = str(tmp_path / "idx")
    build_minhash_index(corpus, p, buckets=4)
    inc = spark.createDataFrame([
        Row(doc_id=100, text=words(7)),          # exact dup of doc 7
        Row(doc_id=101, text=words(7) + " tail extra"),  # near dup
        Row(doc_id=102, text=words(999)),        # fresh
    ])
    got = {r["new_doc_id"]: (r["dup_of"], r["est_jaccard"])
           for r in dedup_against_index(spark, inc, p, 0.5).collect()}
    assert got[100] == (7, 1.0)
    assert got[101][0] == 7 and got[101][1] >= 0.5
    assert 102 not in got


def test_incremental_dedup_probe_prunes_partitions(spark, tmp_path):
    """The probe enumerates the increment's touched (band, bkt) pairs
    (bounded by the layout) and pushes them as literal partition
    filters — the index scan lists only touched directories."""
    from pyspark.sql import Row
    from tsf.dedup import build_minhash_index, dedup_against_index
    words = lambda seed: " ".join(f"w{seed}x{i}" for i in range(40))
    corpus = spark.createDataFrame(
        [Row(doc_id=i, text=words(i)) for i in range(20)])
    p = str(tmp_path / "idx")
    build_minhash_index(corpus, p, buckets=4)
    inc = spark.createDataFrame([Row(doc_id=100, text=words(7))])
    out = dedup_against_index(spark, inc, p, 0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the index scan carries LITERAL (band = x AND bkt = y) partition
    # filters (static pruning; the touched set is bounded by the layout)
    import re
    scans = [ln for ln in plan.splitlines()
             if "FileScan parquet" in ln and "PartitionFilters: [" in ln]
    pfs = [ln.split("PartitionFilters: [")[1] for ln in scans]
    # (the location path may be truncated in the plan string, so select
    # the bands scan by its literal partition filter, not by path)
    assert any(re.search(r"band#\d+ = \d+", pf) for pf in pfs), plan


def test_incremental_index_append(spark, tmp_path):
    """Appending an accepted increment makes its docs visible to the
    NEXT increment's probe; self-matches stay excluded."""
    from pyspark.sql import Row
    from tsf.dedup import (append_minhash_index, build_minhash_index,
                           dedup_against_index)
    words = lambda seed: " ".join(f"w{seed}x{i}" for i in range(40))
    corpus = spark.createDataFrame(
        [Row(doc_id=i, text=words(i)) for i in range(10)])
    p = str(tmp_path / "idx")
    build_minhash_index(corpus, p, buckets=4)
    day1 = spark.createDataFrame([Row(doc_id=50, text=words(777))])
    assert dedup_against_index(spark, day1, p, 0.5).count() == 0
    append_minhash_index(day1, p)
    # re-probing the appended doc itself: no self-match
    assert dedup_against_index(spark, day1, p, 0.5).count() == 0
    day2 = spark.createDataFrame([Row(doc_id=60, text=words(777))])
    got = dedup_against_index(spark, day2, p, 0.5).collect()
    assert len(got) == 1 and got[0]["dup_of"] == 50


def test_remove_dup_spans_planted(spark):
    """A 6-token span planted in two docs: the canonical (smallest
    (doc_id, pos)) occurrence survives, the other doc loses exactly the
    covered positions; untouched docs round-trip identically."""
    from pyspark.sql import Row
    from tsf.dedup import remove_dup_spans
    span = [7, 8, 9, 10, 11, 12]
    a = list(range(100, 110)) + span + list(range(200, 210))
    b = list(range(300, 312)) + span + list(range(400, 408))
    c = list(range(500, 526))
    seq = spark.createDataFrame([
        Row(doc_id="a", tokens=a, n_tok=len(a), source="s"),
        Row(doc_id="b", tokens=b, n_tok=len(b), source="s"),
        Row(doc_id="c", tokens=c, n_tok=len(c), source="s"),
    ])
    got = {r["doc_id"]: r for r in remove_dup_spans(seq, L=6).collect()}
    # doc a (canonical: "a" < "b") keeps everything
    assert got["a"]["tokens_clean"] == a and got["a"]["n_removed"] == 0
    # doc b loses exactly the 6 span positions
    assert got["b"]["tokens_clean"] == b[:12] + b[18:]
    assert got["b"]["n_removed"] == 6
    assert got["c"]["tokens_clean"] == c and got["c"]["n_removed"] == 0


def test_remove_dup_spans_self_repeat(spark):
    """A span repeated WITHIN one doc: the first occurrence survives,
    later ones are removed (overlap union, no double-count)."""
    from pyspark.sql import Row
    from tsf.dedup import remove_dup_spans
    span = [1, 2, 3, 4, 5, 6]
    t = span + [50, 51] + span + [60, 61] + span
    seq = spark.createDataFrame(
        [Row(doc_id="x", tokens=t, n_tok=len(t), source="s")])
    r = remove_dup_spans(seq, L=6).collect()[0]
    assert r["tokens_clean"] == span + [50, 51, 60, 61]
    assert r["n_removed"] == 12


# ---------------------------------------------- hashed-linear classifier

def test_quality_classifier_matches_exploded_reference(spark):
    """The row-local fold must equal an independently-planned exploded
    sum of the same per-word weights (validates the bucket->weight
    composition AND the aggregate fold), and empty docs score 0/pass."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha  alpha"), (3, ""),
         (4, "   "), (5, "delta")],
        "doc_id long, text string")
    out = {r["doc_id"]: r
           for r in textstats.quality_classifier(df).collect()}
    # independent plan: explode words, compute the weight per row via
    # the same public expression, sum per doc
    w = textstats._cls_weight_expr(
        "w", textstats.CLS_SEED, textstats.CLS_BUCKETS)
    ref = {r["doc_id"]: r["s"] for r in
           df.select("doc_id",
                     F.explode(F.expr(textstats._WORDS)).alias("w"))
             .groupBy("doc_id")
             .agg(F.sum(F.expr(w)).alias("s")).collect()}
    for d in (1, 2, 5):
        assert out[d]["score_sum"] == ref[d], d
        assert out[d]["cls_pass"] == (ref[d] >= 0)
    # duplicate words contribute twice (bag, not set)
    one = df.where("doc_id = 2").select(
        F.expr(f"aggregate(transform({textstats._WORDS}, zw -> 1), 0, "
               "(a, x) -> a + x)").alias("n")).first()["n"]
    assert one == 2
    for d in (3, 4):  # empty docs: no evidence, score 0, pass
        assert (out[d]["n_words"], out[d]["score_sum"],
                out[d]["cls_pass"]) == (0, 0, True)


def test_quality_classifier_plan_zero_exchange(spark, sf001):
    import __spark_entry__ as entrymod
    df = entrymod.q_quality_classifier(spark, sf001)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan  # fold, not explode


def test_quality_classifier_trained_weights_seam(spark):
    """A TRAINED model through the same bucket seam: MLlib logistic
    regression over hashed bag-of-words on a labeled fixture, quantized
    to the integer weight array — inference must separate the planted
    good/bad vocabularies perfectly and stay row-local (zero Exchange,
    no model join: the weights ride as a foldable array literal)."""
    good = ["clean", "prose", "article", "essay", "report"]
    bad = ["zz9", "qq8", "xx7", "kk6", "jj5"]
    rows = []
    for i in range(40):
        gw = " ".join(good[(i + j) % 5] for j in range(8))
        bw = " ".join(bad[(i + j) % 5] for j in range(8))
        rows.append((2 * i, gw, 1))
        rows.append((2 * i + 1, bw, 0))
    docs = spark.createDataFrame(rows, "doc_id long, text string, label int")
    weights, bias = textstats.train_quality_weights(
        docs, n_buckets=512, max_iter=50)
    assert len(weights) == 512 and all(isinstance(w, int) for w in weights)
    out = textstats.quality_classifier(docs, weights=weights, bias=bias)
    got = {r["doc_id"]: r["cls_pass"] for r in out.collect()}
    assert all(got[d] == (lab == 1) for d, _, lab in rows)
    # the scale shape is unchanged by the trained path
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan
    assert "Join" not in plan, plan
    # training is deterministic on the same fixture (seeded hash,
    # sorted assembly, LBFGS from a fixed init)
    w2, b2 = textstats.train_quality_weights(docs, n_buckets=512,
                                             max_iter=50)
    assert (w2, b2) == (weights, bias)


# --------------------------------------------------- Bloom decontamination

def test_bloom_decontam_superset_of_exact(spark):
    """Bloom hits must be a SUPERSET of the exact broadcast-join answer
    (false positives possible, false negatives impossible), and a doc
    sharing an n-gram with the benchmark is always flagged."""
    words = " ".join(f"w{i}" for i in range(12))
    other = " ".join(f"v{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(0, words), (1, words), (2, other), (3, other + " tail x y z")],
        "doc_id long, text string")
    bench = docs.where("doc_id = 0")
    corpus = docs.where("doc_id != 0")
    exact = {r["doc_id"] for r in
             textstats.decontam_overlap(docs, bench).collect()}
    bm = textstats.bloom_bitmap(bench)
    out = {r["doc_id"]: r for r in
           textstats.bloom_decontam(corpus, bm).collect()}
    maybe = {d for d, r in out.items() if r["n_maybe"] > 0}
    assert exact <= maybe
    assert 1 in maybe                       # true overlap always caught
    assert out[1]["n_maybe"] == out[1]["n_grams"]  # every gram shared
    assert set(out) == {1, 2, 3}            # corpus rows all present


def test_bloom_probe_plan_zero_exchange(spark, sf001):
    """The probe side is Scan -> Project only: the bitmap rides as a
    literal, so NO corpus byte crosses an Exchange (the build side is a
    separate eval-set-sized job)."""
    import __spark_entry__ as entrymod
    docs = entrymod._docs(spark, sf001)
    bm = textstats.bloom_bitmap(docs.where(entrymod.DECONTAM_PRED))
    probe = textstats.bloom_decontam(
        docs.where(f"NOT ({entrymod.DECONTAM_PRED})"), bm)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


# ----------------------------------------------------------------- SemDeDup

def test_semdedup_planted_duplicates(spark):
    """Two planted copies of a base vector (same cell by construction)
    collapse onto the lowest vec_id; the survivor keeps, the copies
    point dup_of at it; an orthogonal vector is untouched. Plan: the
    within-cell self-join must be a real equi-join, never cartesian."""
    dim = 8
    base = [1.0] + [0.0] * (dim - 1)
    near = [0.999] + [0.03] + [0.0] * (dim - 2)
    ortho = [0.0, 0.0, 1.0] + [0.0] * (dim - 3)
    rows = [(0, base, 0), (1, ortho, 0), (2, near, 0), (3, base, 0)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    out = {r["vec_id"]: r for r in
           similarity.semdedup(emb, n_cells=2, threshold=0.95).collect()}
    assert out[0]["keep"] and out[1]["keep"]
    assert not out[2]["keep"] and out[2]["dup_of"] == 0
    assert not out[3]["keep"] and out[3]["dup_of"] == 0
    assert out[3]["n_earlier_dups"] == 2   # dup of both 0 and 2
    plan = (similarity.semdedup(emb, n_cells=2, threshold=0.95)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Cartesian" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the trained-quantizer seam: identical vectors share a cell under
    # ANY centroid list, so the planted dup survives a k-means swap
    km = similarity.ivf_train_centroids(emb, k=2, seed=3)
    out_km = {r["vec_id"]: r for r in
              similarity.semdedup(emb, threshold=0.95,
                                  cents=km).collect()}
    assert not out_km[3]["keep"] and out_km[3]["dup_of"] == 0


# -------------------------------------------------- JL sign projection

def test_rand_proj_preserves_distances(spark):
    """JL property on a planted fixture: squared pairwise distances in
    the 16-d projection stay within a loose multiplicative band of the
    64-d originals (sign projections concentrate at 1/sqrt(k) rates),
    and the projection is deterministic under repartitioning."""
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((40, 64))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int")
    p = (similarity.rand_proj(emb, out_dim=16).toPandas()
         .pivot(index="vec_id", columns="j", values="val")
         .sort_index())
    pv = p.to_numpy()
    ratios = []
    for i in range(0, 40, 3):
        for k in range(i + 1, 40, 7):
            d0 = float(((vecs[i] - vecs[k]) ** 2).sum())
            d1 = float(((pv[i] - pv[k]) ** 2).sum())
            ratios.append(d1 / d0)
    r = np.asarray(ratios)
    assert 0.8 < float(np.median(r)) < 1.25, float(np.median(r))
    assert float(r.min()) > 0.2 and float(r.max()) < 2.5
    again = (similarity.rand_proj(emb.repartition(7), out_dim=16)
             .toPandas().pivot(index="vec_id", columns="j", values="val")
             .sort_index().to_numpy())
    assert np.array_equal(pv, again)


def test_rand_proj_plan_zero_exchange(spark, sf001):
    import __spark_entry__ as entrymod
    df = entrymod.q_rand_proj(spark, sf001)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


# --------------------------------------------------- token diversity

def test_token_diversity_fixture(spark):
    """Hand-computed modes incl. the smallest-token tie-break, and the
    empty doc keeps a row with a NULL mode."""
    seq = spark.createDataFrame(
        [(1, [5, 3, 5, 3, 5], 5, "s"),      # mode 5 x3
         (2, [9, 2, 9, 2], 4, "s"),         # tie 2x2 vs 9x2 -> 2
         (3, [], 0, "s"),                   # empty
         (4, [7], 1, "s")],
        "doc_id long, tokens array<int>, n_tok int, source string")
    out = {r["doc_id"]: r for r in
           textstats.token_diversity(seq).collect()}
    assert (out[1]["n_distinct"], out[1]["top_token"], out[1]["top_cnt"],
            out[1]["top_frac_ppm"]) == (2, 5, 3, 600000)
    assert (out[2]["top_token"], out[2]["top_cnt"]) == (2, 2)  # tie-break
    assert (out[3]["n_tok"], out[3]["n_distinct"], out[3]["top_token"],
            out[3]["top_cnt"], out[3]["top_frac_ppm"]) == (0, 0, None, 0, 0)
    assert (out[4]["top_token"], out[4]["top_frac_ppm"]) == (7, 1000000)


def test_token_diversity_plan_zero_exchange(spark, sf001):
    import __spark_entry__ as entrymod
    df = entrymod.q_token_diversity(spark, sf001)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan  # fold, not explode


# --------------------------------------------------- quality-aware keeper

def test_keep_best_argmax_and_tiebreak(spark):
    """Keeper = highest score, smallest doc_id on ties; singletons keep
    themselves; n_docs counts the group."""
    groups = spark.createDataFrame(
        [("a1", "a1"), ("a2", "a1"), ("a3", "a1"), ("b9", "b9")],
        "doc_id string, group_id string")
    docs = spark.createDataFrame(
        [("a1", 5), ("a2", 9), ("a3", 9), ("b9", 1)],
        "doc_id string, n_chars int")
    from tsf.dedup import keep_best
    out = {r["group_id"]: r for r in keep_best(groups, docs).collect()}
    assert (out["a1"]["keep_doc_id"], out["a1"]["best_score"],
            out["a1"]["n_docs"]) == ("a2", 9.0, 3)   # tie 9: a2 < a3
    assert (out["b9"]["keep_doc_id"], out["b9"]["n_docs"]) == ("b9", 1)
    # the aggregate partial-combines map-side (one group-keyed Exchange,
    # carrying partial structs, never group membership)
    p = (keep_best(groups, docs)
         ._jdf.queryExecution().executedPlan().toString())
    assert "partial_min_by" in p, p
    # doc_id equi-join (2) + group agg (1); no broadcast of the
    # corpus-sized sides, no extra pass over group membership
    assert p.count("Exchange hashpartitioning") <= 3, p


# ------------------------------------------------------- line-level dedup

def test_line_dedup_keeps_first_occurrence(spark):
    rows = [
        (1, "a b c d e f g h"),   # lines: "a b c d" | "e f g h"
        (2, "a b c d x y z w"),   # first line dups doc 1 -> dropped
        (3, "x y z w e f g h"),   # both lines dup earlier docs -> empty
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.line_dedup(docs, lw=4).collect()}
    assert out[1].text_clean == "a b c d\ne f g h" and out[1].n_removed == 0
    assert out[2].text_clean == "x y z w" and out[2].n_removed == 1
    assert (out[3].text_clean == "" and out[3].n_kept == 0
            and out[3].n_removed == 2)


def test_line_dedup_ragged_tail_and_empty_doc(spark):
    rows = [(1, "p q r s t"),      # tail line "t" (1 word)
            (2, ""),               # no words -> no lines
            (3, "t")]              # dups doc 1's tail line
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.line_dedup(docs, lw=4).collect()}
    assert out[1].n_lines == 2 and out[1].text_clean == "p q r s\nt"
    assert out[2].n_lines == 0 and out[2].text_clean == ""
    assert out[3].n_lines == 1 and out[3].n_kept == 0


# ------------------------------------------------------------------ BM25

def test_bm25_topk_matches_python_reference(spark):
    import math
    rows = [(1, "apple banana apple"), (2, "banana cherry"),
            (3, "apple apple apple apple"), (4, "dog cat")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    terms = ("apple", "banana")
    out = textstats.bm25_topk(docs, terms=terms, k=4).collect()

    words = {d: t.split() for d, t in rows}
    N = len(rows)
    W = sum(len(w) for w in words.values())
    tf = {d: [w.count(t) for t in terms] for d, w in words.items()}
    dfreq = [sum(1 for d in words if tf[d][i] > 0)
             for i in range(len(terms))]

    def idf(dfi):
        return math.floor(
            math.log((N - dfi + 0.5) / (dfi + 0.5) + 1.0) * 1e6 + 0.5)

    def score(d):
        dl = len(words[d])
        return sum(
            idf(dfreq[i]) * (44 * W * tf[d][i])
            / (20 * W * tf[d][i] + 6 * W + 18 * dl * N)
            for i in range(len(terms)))

    exp = sorted(words, key=lambda d: (-score(d), d))
    assert [r.doc_id for r in out] == exp
    for r in out:  # bit-exact: same IEEE ops in the same order
        assert r.score_bm25 == score(r.doc_id)


# ------------------------------------------------------- outlier windows

def test_outlier_windows_flags_deviant_window(spark):
    from tsf.rollup import outlier_windows
    toks = [10] * 20 + [50] * 10 + [10] * 30
    seq = spark.createDataFrame(
        [("d1", toks, len(toks), "web"), ("d2", [7] * 25, 25, "web")],
        "doc_id string, tokens array<int>, n_tok int, source string")
    rows = outlier_windows(seq, window=10).collect()
    d1 = sorted((r for r in rows if r.doc_id == "d1"),
                key=lambda r: r.window_id)
    assert [r.is_outlier for r in d1] == [False, False, True,
                                          False, False, False]
    assert [r.s_w for r in d1] == [100, 100, 500, 100, 100, 100]
    d2 = sorted((r for r in rows if r.doc_id == "d2"),
                key=lambda r: r.window_id)
    # constant doc: var 0, every deviation 0 -> no flags; ragged tail
    assert [r.c_w for r in d2] == [10, 10, 5]
    assert not any(r.is_outlier for r in d2)


# ------------------------------------------------------- rolling rollup

def test_rolling_windows_frame_and_exact_mean(spark):
    from tsf.rollup import rolling_windows
    toks = [2] * 10 + [4] * 10 + [6] * 10   # window=10 -> sums 20,40,60
    seq = spark.createDataFrame(
        [("d1", toks, len(toks), "web")],
        "doc_id string, tokens array<int>, n_tok int, source string")
    rows = sorted(rolling_windows(seq, window=10, k=2).collect(),
                  key=lambda r: r.window_id)
    assert [r.roll_n for r in rows] == [1, 2, 2]      # frame ramps up
    assert [r.roll_sum for r in rows] == [20, 60, 100]
    assert [r.roll_cnt for r in rows] == [10, 20, 20]
    assert [r.roll_mean for r in rows] == [2.0, 3.0, 5.0]


# -------------------------------------- dirty-vector / ANSI robustness

def test_similarity_survives_zero_norm_vectors(spark):
    """One all-zero embedding (classic dirty row) must not abort the
    job under Spark 4's ANSI default: the zero-norm row scores NULL and
    threshold filters drop it; every other pair is unaffected."""
    from pyspark.sql import Row
    import numpy as np
    rng = np.random.default_rng(5)
    base = rng.standard_normal(8)
    rows = [Row(vec_id=0, label="x", embedding=[float(v) for v in base]),
            Row(vec_id=1, label="x",
                embedding=[float(v) for v in base + 1e-3]),
            Row(vec_id=2, label="x", embedding=[0.0] * 8)]
    emb = spark.createDataFrame(rows)
    q = [float(v) for v in base]
    scored = {r["vec_id"]: r["cos"]
              for r in similarity.cosine_scores(emb, q).collect()}
    assert scored[2] is None and scored[0] == 1.0
    top = [r["vec_id"] for r in similarity.cosine_topk(emb, q, 2).collect()]
    assert top == [0, 1]
    nd = similarity.embedding_near_dups(emb, threshold=0.9)
    assert {(r["vec_a"], r["vec_b"]) for r in nd.collect()} == {(0, 1)}
    sd = {r["vec_id"]: r["keep"]
          for r in similarity.semdedup(emb, threshold=0.95,
                                       cents=[q]).collect()}
    assert sd[0] and not sd[1] and sd[2]   # zero row: no dup evidence
    pp = similarity.pairwise_pearson(emb).collect()   # no ANSI abort
    assert all(r["pearson"] is None or -1.0 <= r["pearson"] <= 1.0
               for r in pp)
    # trained quantizer drops the zero-norm row instead of crashing
    cents = similarity.ivf_train_centroids(emb, k=2, max_iter=5)
    assert len(cents) == 2


def test_pairwise_features_constant_window_yields_null_pearson(spark):
    """A constant window (zero variance — e.g. a pad-token run) yields
    NULL pearson for its pairs per the documented contract, instead of
    an ANSI DIVIDE_BY_ZERO job abort."""
    from tsf import pairwise as pw
    seq = spark.createDataFrame(
        [("a", list(range(8)), 8, "s"), ("b", [5] * 8, 8, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string")
    out = pw.pairwise_features(seq, ("pearson", "cov"), window=8).collect()
    assert len(out) == 1
    assert out[0]["pearson"] is None        # undefined, not a crash
    assert out[0]["cov"] == 0.0             # covariance IS defined


def test_pairwise_features_ignores_stale_n_tok(spark):
    """The windowing layer derives everything from size(tokens); the
    pairwise prefilter must too — a corrupt n_tok=0 on a real 8-token
    doc cannot silently exclude its pairs."""
    from tsf import pairwise as pw
    seq = spark.createDataFrame(
        [("a", list(range(8)), 0, "s"),      # stale n_tok
         ("b", list(range(1, 9)), 8, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string")
    out = pw.pairwise_features(seq, ("pearson",), window=8).collect()
    assert len(out) == 1 and out[0]["pearson"] is not None


def test_build_lsh_index_empty_table_raises(spark, tmp_path):
    emb = spark.createDataFrame(
        [], "vec_id long, label string, embedding array<float>")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="empty"):
        similarity.build_lsh_index(emb, str(tmp_path / "idx"))


def test_cross_source_dup_matrix_duckdb_replay(spark, sf001):
    """Committed cross-engine pin for the production LSH pair path:
    cross_source_dup_matrix and lsh_dedup_groups against their DuckDB
    replays (xxhash64 shingles -> signatures -> band hashes ->
    candidates -> exact verify -> source matrix / reachability),
    bit-for-bit on the sf0.001 corpus with string doc ids."""
    import duckdb
    docs = spark.read.parquet(f"{sf001}/documents.parquet") \
        .withColumn("doc_id", F.col("doc_id").cast("string"))
    got = (dedup.cross_source_dup_matrix(docs, threshold=0.3)
           .orderBy("source_a", "source_b").toPandas())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf001}/documents.parquet')")
    ora = con.execute(dedup.cross_source_dup_matrix_duckdb(threshold=0.3)
                      + " ORDER BY source_a, source_b").df()
    assert len(got) > 0
    assert list(got["source_a"]) == list(ora["source_a"])
    assert list(got["source_b"]) == list(ora["source_b"])
    for c in ["n_pairs", "n_docs"]:
        assert (got[c].to_numpy().astype("int64")
                == ora[c].to_numpy().astype("int64")).all(), c
    groups = {(r["doc_id"], r["group_id"]) for r in
              dedup.lsh_dedup_groups(docs, threshold=0.3).collect()}
    ora = con.execute(dedup.lsh_dedup_groups_duckdb(threshold=0.3)).df()
    assert groups == set(zip(ora["doc_id"], ora["group_id"]))
    assert any(d != g for d, g in groups)


# ------------------------------------------------------- shingle containment

def _mkdocs(spark, texts):
    return spark.createDataFrame(
        [(k, v, "s", "en") for k, v in texts.items()],
        "doc_id string, text string, source string, lang string")


def test_containment_catches_quote_jaccard_misses(spark):
    """A short doc quoted verbatim inside a long one: containment 1.0,
    Jaccard ~|A|/|B| -> below any useful symmetric threshold. The
    asymmetric operator must find (quote in host) and ONLY that ordered
    direction; the symmetric Jaccard operator at the same corpus misses
    the pair entirely."""
    rng = np.random.default_rng(7)
    vocab = [f"v{i}" for i in range(500)]
    quote = " ".join(rng.choice(vocab, size=20).tolist())
    host = (" ".join(rng.choice(vocab, size=150).tolist())
            + " " + quote + " "
            + " ".join(rng.choice(vocab, size=150).tolist()))
    texts = {"quote": quote, "host": host,
             "other": " ".join(rng.choice(vocab, size=80).tolist())}
    docs = _mkdocs(spark, texts)
    got = dedup.containment_pairs(docs, num=4, den=5).toPandas()
    pairs = set(map(tuple, got[["doc_inner", "doc_outer"]].to_numpy()))
    assert ("quote", "host") in pairs
    assert ("host", "quote") not in pairs  # asymmetric, as defined
    row = got.set_index(["doc_inner", "doc_outer"]).loc[("quote", "host")]
    assert int(row["cont_ppm"]) == 1_000_000  # verbatim inclusion is exact
    # symmetric Jaccard at 0.3 structurally misses the quoted pair
    jac = dedup.ngram_jaccard_pairs(docs, threshold=0.3).toPandas()
    assert not len(jac)


def test_containment_positional_filter_lossless(spark):
    """The asymmetric positional/prefix filters must not change results —
    equality with the filters disabled on a LOW-VOCABULARY corpus (the
    saturating worst case), including planted full and partial quotes."""
    rng = np.random.default_rng(13)
    vocab = [f"w{i}" for i in range(25)]
    texts = {}
    for i in range(50):
        words = rng.choice(vocab, size=rng.integers(15, 50)).tolist()
        texts[f"d{i}"] = " ".join(words)
    texts["q"] = " ".join(texts["d0"].split()[:12])      # prefix quote
    texts["h"] = texts["d1"] + " " + texts["q"]          # q inside h too
    docs = _mkdocs(spark, texts)
    on = dedup.containment_pairs(docs, num=3, den=5).toPandas()
    off = dedup.containment_pairs(docs, num=3, den=5,
                                  positional=False).toPandas()
    key = lambda df: set(map(tuple, df[
        ["doc_inner", "doc_outer", "inter_sz", "sz_inner", "cont_ppm"]]
        .astype(str).to_numpy()))
    assert key(on) == key(off)
    pairs = set(map(tuple, on[["doc_inner", "doc_outer"]].to_numpy()))
    assert ("q", "d0") in pairs and ("q", "h") in pairs


def test_containment_exact_dup_is_mutual(spark):
    """Verbatim duplicates contain each other: both ordered directions
    at exactly 1.0; threshold validation rejects degenerate rationals."""
    t = "alpha beta gamma delta epsilon zeta eta theta"
    docs = _mkdocs(spark, {"a": t, "b": t})
    got = dedup.containment_pairs(docs).toPandas()
    pairs = {tuple(r) for r in got[["doc_inner", "doc_outer"]].to_numpy()}
    assert pairs == {("a", "b"), ("b", "a")}
    assert set(got["cont_ppm"]) == {1_000_000}
    import pytest as _pytest
    with _pytest.raises(ValueError):
        dedup.containment_pairs(docs, num=6, den=5)


# ---------------------------------------------------- bottom-k quantile sketch

def test_sketch_quantiles_accuracy_and_determinism(spark):
    """On a planted uniform distribution the k=256 sample median must
    land within the binomial rank bound of the true median, and the
    sketch must be bit-identical under any input partitioning (the
    property approx_percentile does NOT have)."""
    from tsf.textstats import sketch_quantiles
    n = 4000
    rows = [(f"d{i:05d}", "s0", i + 1) for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id string, source string, "
                                       "n_chars long")
    k = 256
    got = sketch_quantiles(docs, k=k, q_ppm=(500000,)).toPandas()
    assert int(got["n_group"].iloc[0]) == n
    assert int(got["n_sample"].iloc[0]) == k
    # rank error bound: 5 sigma of Binomial(k, 0.5) in value space
    # (values are 1..n uniform, so value error = rank error * n/k)
    tol = 5 * (0.25 / k) ** 0.5 * n
    assert abs(int(got["value"].iloc[0]) - n / 2) < tol, got
    a = sketch_quantiles(docs.repartition(17), k=k).toPandas()
    b = sketch_quantiles(docs.coalesce(1), k=k).toPandas()
    key = lambda df: sorted(map(tuple, df.astype(str).to_numpy()))
    assert key(a) == key(b)


def test_sketch_quantiles_small_group_is_exact(spark):
    """A group smaller than k is sampled in full, so the sketch
    degrades to the EXACT type-1 quantile (rank ceil(q*n), doc_id
    tie-break) — pinned against source_quantiles on the same rows."""
    from tsf.textstats import sketch_quantiles, source_quantiles
    rows = [(f"d{i}", "s0", v) for i, v in
            enumerate([5, 1, 9, 3, 7, 3, 8])]
    docs = spark.createDataFrame(rows, "doc_id string, source string, "
                                       "n_chars long")
    got = sketch_quantiles(docs, k=100,
                           q_ppm=(250000, 500000, 1000000)).toPandas()
    exact = source_quantiles(docs, col="n_chars",
                             qs=(0.25, 0.5, 1.0)).toPandas()
    g = {int(r["q_ppm"]): int(r["value"]) for _, r in got.iterrows()}
    e = {int(round(r["q"] * 1e6)): int(r["value"])
         for _, r in exact.iterrows()}
    assert g == e
    import pytest as _pytest
    with _pytest.raises(ValueError):
        sketch_quantiles(docs, q_ppm=(0,))


def test_fertility_stats_hand_computed(spark):
    """Two-doc fixture with known counts: 'ab cd.' is 2 words and 3
    BPE-ish tokens (ab / cd / .), so the micro ratios are exact integer
    arithmetic over the group sums."""
    from tsf.textstats import fertility_stats
    docs = spark.createDataFrame(
        [("a", "ab cd.", "en", "s0"), ("b", "x1", "en", "s0"),
         ("c", "", "de", "s0")],
        "doc_id string, text string, lang string, source string")
    got = {(r["source"], r["lang"]): r
           for r in fertility_stats(docs).collect()}
    en = got[("s0", "en")]
    # 'ab cd.': 6 chars, 2 words, 3 tokens; 'x1': 2 chars, 1 word,
    # 2 tokens (x / 1) -> sums 8 chars, 3 words, 5 tokens
    assert (en["n_docs"], en["sum_chars"], en["sum_words"],
            en["sum_tokens"]) == (2, 8, 3, 5)
    assert en["tokens_per_word_micro"] == (5 * 1_000_000) // 3
    assert en["chars_per_token_micro"] == (8 * 1_000_000) // 5
    de = got[("s0", "de")]   # empty doc: guarded divisions, no crash
    assert (de["sum_words"], de["sum_tokens"],
            de["tokens_per_word_micro"]) == (0, 0, 0)


# ------------------------------------------------------- series dynamics

def test_series_dynamics_hand_computed(spark):
    from tsf.rollup import series_dynamics
    seq = spark.createDataFrame(
        [("inc", [1, 2, 3, 4], 4, "web"),       # diffs 1,1,1
         ("jump", [0, 100, 0], 3, "web"),       # diffs 100,-100
         ("const", [5, 5, 5], 3, "web"),        # diffs 0,0
         ("single", [9], 1, "web"),
         ("empty", [], 0, "web")],
        "doc_id string, tokens array<int>, n_tok int, source string")
    rows = {r.doc_id: r for r in series_dynamics(seq, pnn_th=40).collect()}
    # inc: cubes 1+1+1 = 3, mean 1.0; no |diff|>40; above mean (2.5):
    # values 3,4 -> run 2
    assert rows["inc"].trev_sum == 3.0
    assert rows["inc"].trev_mean == 1.0
    assert rows["inc"].pnn_ppm == 0
    assert rows["inc"].longstretch_above == 2
    # jump: 100^3 + (-100)^3 = 0; both diffs > 40 -> ppm 1_000_000;
    # mean 100/3, only the middle value above -> run 1
    assert rows["jump"].trev_sum == 0.0
    assert rows["jump"].pnn_ppm == 1_000_000
    assert rows["jump"].longstretch_above == 1
    # const: never strictly above its own mean
    assert rows["const"].trev_sum == 0.0
    assert rows["const"].pnn_ppm == 0
    assert rows["const"].longstretch_above == 0
    # degenerate lengths keep rows with NULL diff stats
    assert rows["single"].trev_sum is None
    assert rows["single"].pnn_ppm is None
    assert rows["single"].longstretch_above == 0
    assert rows["empty"].trev_sum is None
    assert rows["empty"].longstretch_above == 0


# ------------------------------------------------------- hard negatives

def test_hard_negatives_excludes_same_label_and_ranks(spark):
    from tsf.similarity import hard_negatives
    # q0 (label A) at [1,0]; same-label near-twin must NOT appear;
    # different-label vectors rank by cosine
    rows = [
        (0, [1.0, 0.0], "A"),
        (1, [0.99, 0.1], "A"),       # same label: excluded for q0
        (2, [0.9, 0.1], "B"),        # nearest negative for q0
        (3, [0.0, 1.0], "B"),        # orthogonal
        (4, [-1.0, 0.0], "C"),       # opposite
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string")
    out = hard_negatives(emb, n_queries=1, k=2).collect()
    assert [r.q_id for r in out] == [0, 0]
    assert [r.vec_id for r in out] == [2, 3]
    assert all(r.label != r.q_label for r in out)
    assert [r.rnk for r in out] == [1, 2]


# ------------------------------------------------------- z-order layout

def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """The point of z-ordering: a 1-D sorted layout gives tight file
    bounds on ONE column (a y-band predicate prunes nothing), the
    Morton layout keeps every file's bounding box tight in BOTH."""
    import glob

    from tsf.icelite import _file_stats
    from tsf.zorder import zorder_layout

    rows = [(i * 32 + j, i, j) for i in range(32) for j in range(32)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    p1, p2 = str(tmp_path / "naive"), str(tmp_path / "zo")
    df.repartitionByRange(16, "x").write.parquet(p1)
    zorder_layout(df, "x", "y", num_files=16, bits=5).write.parquet(p2)

    def kept(path, lo, hi):     # files a y-band scan must still read
        files = [f for f in glob.glob(path + "/*.parquet")
                 if _file_stats(f)[0] > 0]
        k = 0
        for f in files:
            st = _file_stats(f)[2].get("y")
            if st is None or not (st[1] < lo or st[0] > hi):
                k += 1
        return len(files), k

    n1, k1 = kept(p1, 4, 7)
    n2, k2 = kept(p2, 4, 7)
    assert k1 == n1, "1-D layout: every file spans all y"
    assert k2 <= n2 // 2, f"z-order should prune most files ({k2}/{n2})"


def test_zorder_key_bit_interleave(spark):
    from tsf.zorder import with_zorder
    # ranges 0..15 at bits=4: bucket == value; zkey == morton(x, y)
    rows = [(0, 0, 0), (1, 15, 0), (2, 0, 15), (3, 5, 3), (4, 15, 15)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    out = {r.id: r for r in with_zorder(df, "x", "y", bits=4).collect()}

    def morton(a, b):
        return sum(((a >> i) & 1) << (2 * i) | ((b >> i) & 1) << (2 * i + 1)
                   for i in range(4))

    for i, x, y in rows:
        assert out[i].b_a == x and out[i].b_b == y
        assert out[i].zkey == morton(x, y), (i, out[i].zkey, morton(x, y))


# ------------------------------------------------------- expectations audit

def test_audit_expectations_rule_semantics(spark):
    from tsf.expectations import audit_expectations
    rows = [
        (1, "hello", "en", 5),
        (2, None, "en", 0),          # null text
        (3, "", "EN", -1),           # empty text, bad lang, bad range
        (3, "dup", "fr", 3),         # duplicate id
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long")
    rules = [("not_null", "text"), ("min_length", "text", 1),
             ("in_range", "n_chars", 0, 100),
             ("matches", "lang", "^[a-z][a-z]$"), ("unique", "doc_id")]
    out = {r.rule: r for r in audit_expectations(df, rules).collect()}
    assert out["not_null_text"].violations == 1
    # min_length: NULL violates too (documented NULL-violates semantics)
    assert out["min_length_text_1"].violations == 2
    assert out["in_range_n_chars_0_100"].violations == 1
    assert out["matches_lang_^[a-z][a-z]$"].violations == 1
    assert out["unique_doc_id"].violations == 1
    assert all(r.total == 4 for r in out.values())
    assert not any(r["pass"] for r in out.values())


def test_audit_expectations_all_pass(spark):
    from tsf.expectations import audit_expectations, audit_passes
    df = spark.createDataFrame(
        [(1, "a", "en", 1), (2, "bb", "fr", 2)],
        "doc_id long, text string, lang string, n_chars long")
    rules = [("not_null", "text"), ("unique", "doc_id"),
             ("in_range", "n_chars", 0, 10)]
    assert audit_passes(df, rules)
    assert all(r["pass"] for r in audit_expectations(df, rules).collect())


def test_series_changepoint_hand_computed(spark):
    from tsf.rollup import series_changepoint
    seq = spark.createDataFrame(
        [("shift", [0, 0, 0, 10, 10, 10], 6, "web"),
         ("flat", [5, 5, 5, 5], 4, "web"),
         ("tie", [0, 10, 0, 10], 4, "web"),
         ("single", [9], 1, "web"),
         ("empty", [], 0, "web")],
        "doc_id string, tokens array<int>, n_tok int, source string")
    rows = {r.doc_id: r for r in series_changepoint(seq).collect()}
    # shift: S=(0,0,0,10,20,30), S_n=30, G_k=|6*S_k - 30k| =
    # (30,60,90,60,30) -> argmax k=3, G=90, left 0, right 30
    assert rows["shift"].cp_pos == 3
    assert rows["shift"].cp_stat == 90
    assert rows["shift"].left_sum == 0
    assert rows["shift"].right_sum == 30
    # flat: G_k = 0 everywhere -> first k wins
    assert rows["flat"].cp_pos == 1
    assert rows["flat"].cp_stat == 0
    # tie: S=(0,10,10,20), S_n=20, G=|4*S_k-20k| = (20,0,20,-) ->
    # k=1 and k=3 tie at 20; strict > keeps the FIRST
    assert rows["tie"].cp_pos == 1
    assert rows["tie"].cp_stat == 20
    # degenerate lengths keep rows with NULL changepoint columns
    for d in ("single", "empty"):
        assert rows[d].cp_pos is None
        assert rows[d].cp_stat is None
        assert rows[d].left_sum is None


def test_dtw_batch_matches_naive_banded_dp(spark):
    import numpy as np
    from tsf.pairwise import dtw_batch, DTW_INF
    rng = np.random.RandomState(7)
    L, r = 16, 4
    A = rng.randint(0, 50257, (30, L)).astype(np.int64)
    B = rng.randint(0, 50257, (30, L)).astype(np.int64)

    def naive(a, b, rad):
        D = np.full((L, L), DTW_INF, dtype=object)
        for i in range(L):
            for j in range(L):
                if abs(i - j) > rad:
                    continue
                c = abs(int(a[i]) - int(b[j]))
                if i == 0 and j == 0:
                    D[i, j] = c
                elif i == 0:
                    D[i, j] = min(DTW_INF, c + D[i, j - 1])
                elif j == 0:
                    D[i, j] = min(DTW_INF, c + D[i - 1, j])
                else:
                    D[i, j] = min(DTW_INF, c + min(D[i - 1, j], D[i, j - 1],
                                                   D[i - 1, j - 1]))
        return int(D[L - 1, L - 1])

    got = dtw_batch(A, B, r)
    assert list(got) == [naive(A[k], B[k], r) for k in range(30)]
    # a wider band can only improve (or keep) the cost; r >= L-1 == full
    full = dtw_batch(A, B, L)
    assert all(int(g) >= int(f) for g, f in zip(got, full))
    assert list(full) == [naive(A[k], B[k], L + 5) for k in range(30)]


def test_pairwise_dtw_identity_and_shift(spark):
    from tsf.pairwise import pairwise_dtw
    # identical series -> cost 0; a one-step shift of a ramp is cheap
    # under DTW but expensive pointwise
    ramp = list(range(0, 160, 10))          # 16 values
    seq = spark.createDataFrame(
        [("a", ramp, 16, "s"),
         ("b", ramp, 16, "s"),
         ("c", [ramp[0]] + ramp[:-1], 16, "s")],   # shifted ramp
        "doc_id string, tokens array<int>, n_tok int, source string")
    rows = {(r.doc_a, r.doc_b): r.dtw_cost
            for r in pairwise_dtw(seq, length=16, radius=4).collect()}
    assert rows[("a", "b")] == 0
    # pointwise L1 of the shift is 15*10 = 150; DTW re-aligns: pays the
    # duplicated first point only -> far cheaper
    assert 0 < rows[("a", "c")] < 50
    assert rows[("a", "c")] == rows[("b", "c")]


def test_series_lttb_hand_computed_and_edges(spark):
    from tsf.rollup import series_lttb
    # 12 points, 4 buckets -> first + 2 middle picks + last
    ramp = [0, 1, 2, 3, 4, 100, 6, 7, 8, 9, 10, 11]
    seq = spark.createDataFrame(
        [("spike", ramp, 12, "s"),
         ("short", [7, 8, 9], 3, "s"),
         ("single", [5], 1, "s"),
         ("empty", [], 0, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string")
    out = series_lttb(seq, buckets=4).toPandas()
    spike = out[out.doc_id == "spike"].sort_values("rank")
    # endpoints always kept
    assert list(spike["pos"])[0] == 1 and list(spike["pos"])[-1] == 12
    assert len(spike) == 4
    # the spike at pos 6 dominates its bucket's triangle area
    assert 6 in list(spike["pos"])
    # n < buckets -> identity; empty docs emit no rows
    assert list(out[out.doc_id == "short"].sort_values("rank")["pos"]) \
        == [1, 2, 3]
    assert list(out[out.doc_id == "single"]["pos"]) == [1]
    assert len(out[out.doc_id == "empty"]) == 0
    # y values are the tokens at the kept positions
    assert all(r.y == ramp[int(r.pos) - 1] for r in spike.itertuples())


def test_series_motif_planted_and_edges(spark):
    from tsf.rollup import series_motif
    base = list(range(0, 160, 10))      # 16 tokens, the planted motif
    noise = [9999, 1, 9998, 2] * 12     # 48 tokens of jitter
    seq = spark.createDataFrame(
        [("plant", base + noise + base, 80, "s"),   # motif at wins 0,4
         ("onewin", list(range(20)), 20, "s"),      # < 2 windows -> none
         ("empty", [], 0, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string")
    rows = {r.doc_id: r
            for r in series_motif(seq, window=16, max_windows=8).collect()}
    assert rows["plant"].motif_dist == 0
    assert (rows["plant"].win_a, rows["plant"].win_b) == (0, 4)
    assert rows["plant"].n_win == 5
    assert "onewin" not in rows and "empty" not in rows


def test_series_motif_tie_breaks_to_smallest_pair(spark):
    from tsf.rollup import series_motif
    # three identical windows -> pairs (0,1),(0,2),(1,2) all dist 0;
    # the struct-min must pick (0,1)
    w16 = list(range(16))
    seq = spark.createDataFrame(
        [("tri", w16 * 3, 48, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string")
    r = series_motif(seq, window=16, max_windows=8).collect()[0]
    assert (r.win_a, r.win_b, r.motif_dist) == (0, 1, 0)


def test_series_sax_hand_computed(spark):
    from tsf.rollup import series_sax
    # 8 tokens, 4 segments of 2; sorted = [1..8], quartiles at
    # ceil(j*8/4) = positions 2,4,6 -> breakpoints 2,4,6
    seq = spark.createDataFrame(
        [("ramp", [1, 2, 3, 4, 5, 6, 7, 8], 8, "s"),
         ("vee", [8, 7, 1, 1, 1, 1, 7, 8], 8, "s"),
         ("short", [1, 2, 3], 3, "s"),
         ("empty", [], 0, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string")
    rows = {r.doc_id: r.sax_word
            for r in series_sax(seq, segments=4).collect()}
    # ramp segments sums (3,7,11,15) vs q*c = (4,8,12): word 0123
    assert rows["ramp"] == "0123"
    # vee: sorted=[1,1,1,1,7,7,8,8], q=(1,1,7); sums (15,2,2,15),
    # symbols: 15>2,15>2,15>14 -> 3; 2>2? no -> 0; 0; 3
    assert rows["vee"] == "3003"
    # n < segments -> NULL word, row kept; empty doc likewise
    assert rows["short"] is None
    assert rows["empty"] is None
