"""Distributed rollup vs the single-machine numpy oracle — bit-exact at
every retention tier (BASELINE.json:6), invariant to chunking/partitioning."""

import numpy as np
import pandas as pd
import pytest

from tsf.io import synth_sequences, synth_sequences_pdf
from tsf.oracle import oracle_cascade
from tsf.registry import default_rollup_features
from tsf.rollup import cascade, tier0


@pytest.fixture(scope="module")
def fixture_pdf():
    return synth_sequences_pdf(n_docs=45, longtail_max=25_000)


@pytest.fixture(scope="module")
def fixture_df(spark):
    return synth_sequences(spark, n_docs=45, longtail_max=25_000).persist()


def _cmp(a: pd.DataFrame, b: pd.DataFrame, cols):
    a = a.sort_values(["doc_id", "window_id"]).reset_index(drop=True)
    b = b.sort_values(["doc_id", "window_id"]).reset_index(drop=True)
    assert len(a) == len(b)
    for c in cols:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        eq = (av == bv) | (pd.isna(av) & pd.isna(bv))
        assert eq.all(), (c, np.nonzero(~np.asarray(eq))[0][:5])


def test_cascade_bitexact_all_tiers(spark, fixture_df, fixture_pdf):
    feats = default_rollup_features()
    tiers = cascade(fixture_df, tiers=3, features=feats, chunk_windows=16)
    orc = oracle_cascade(fixture_pdf, W=100, tiers=3, features=feats)
    for t, df in enumerate(tiers):
        got = df.drop("values_gorilla").toPandas()
        want = orc[orc.tier == t][got.columns]
        _cmp(got, want, ["win_start"] + feats.names)


def test_partitioning_invariance(spark, fixture_df):
    """Chunk size and shuffle width must not change a single bit, Gorilla
    block bytes included."""
    a = tier0(fixture_df, chunk_windows=2, num_partitions=64).toPandas()
    b = tier0(fixture_df, chunk_windows=512, num_partitions=2).toPandas()
    assert "values_gorilla" in a.columns
    _cmp(a, b, [c for c in a.columns if c not in ("doc_id",)])


def test_empty_and_short_docs(spark, fixture_df):
    out = tier0(fixture_df.where("n_tok <= 1"), blocks=False).toPandas()
    # n_tok=0 docs emit nothing; n_tok=1 emits one window with cnt=1
    assert (out.cnt == 1).all()
    assert (out.window_id == 0).all()


def test_longtail_skew_split(spark, fixture_df):
    """A 25k-token doc with chunk_windows=4 (400-token chunks) must produce
    exactly the same windows, and block bytes, as unchunked."""
    long_doc = fixture_df.where("n_tok >= 20000")
    a = tier0(long_doc, chunk_windows=4).toPandas()
    b = tier0(long_doc, chunk_windows=1024).toPandas()
    assert "values_gorilla" in a.columns
    _cmp(a, b, [c for c in a.columns if c != "doc_id"])
    assert len(a) == -(-25_000 // 100)


def test_block_window_must_be_multiple_of_tier_factor(spark, fixture_df):
    """At W=25 a tier-0 block holds 3 decade means (10+10+5 points), so
    ten children give a tier-1 parent 30 points: two windows under one
    window_id. Every block producer refuses such a W at plan
    construction, before any job runs; blocks=False has no such limit."""
    from tsf.rollup import make_tier0_fn, make_tierN_fn, next_tier
    feats = default_rollup_features()
    with pytest.raises(ValueError, match="multiple of 10"):
        tier0(fixture_df, feats, window=25)
    with pytest.raises(ValueError, match="multiple of 10"):
        next_tier(tier0(fixture_df, feats, window=20), 0, feats, window=25)
    with pytest.raises(ValueError, match="multiple of 10"):
        make_tier0_fn(feats, 25, blocks=True)
    with pytest.raises(ValueError, match="multiple of 10"):
        make_tierN_fn(feats, 25, 1)
    assert "values_gorilla" not in tier0(fixture_df, feats, window=25,
                                         blocks=False).columns


def test_output_schema_stable(spark, fixture_df):
    feats = default_rollup_features()
    df = tier0(fixture_df.limit(1), feats)
    names = df.schema.fieldNames()
    assert names[:5] == ["doc_id", "source", "tier", "window_id", "win_start"]
    assert names[5:5 + len(feats.names)] == feats.names
    assert names[-1] == "values_gorilla"


def test_tier0_vectors_surface(spark):
    """Vector-valued feature output (reference Vector->Vector surface):
    values match the batch kernels row-for-row; unknown names refused."""
    import numpy as np
    import pytest
    from tsf import kernels as K
    from tsf.io import synth_sequences
    from tsf.rollup import tier0_vectors

    seq = synth_sequences(spark, 12, seed=3, longtail_max=2000)
    out = tier0_vectors(seq, names=("z", "acf", "analytic_amplitude"),
                        window=50).toPandas()
    assert set(out["name"]) == {"z", "acf", "analytic_amplitude"}
    pdf = seq.toPandas().set_index("doc_id")
    take = out[(out["name"] == "acf") & (out["window_id"] == 0)].head(5)
    for _, row in take.iterrows():
        toks = np.asarray(pdf.loc[row["doc_id"], "tokens"], dtype=np.float64)[:50]
        M = np.zeros((1, 50)); M[0, :toks.size] = toks
        ctx = K.WindowCtx(M, np.array([toks.size]))
        want = ctx.get("acf")[0][:len(row["values"])]
        got = np.asarray(row["values"], dtype=np.float64)
        assert np.allclose(got, want, rtol=1e-12, equal_nan=True)
    with pytest.raises(KeyError):
        tier0_vectors(seq, names=("nope",))


def test_series_features_whole_series_ragged(spark):
    """Whole-series evaluation: values equal evaluate_series on each full
    doc (width = the pow2 bucket), ragged lengths incl. a 50k-token
    long-tail doc through the cell-capped batcher, empty docs excluded,
    and bit-identical under different partitioning."""
    import numpy as np

    from tsf.registry import catalogue
    from tsf.rollup import series_features

    rng = np.random.default_rng(3)
    docs = {"tiny": [7], "empty": [],
            "short": [int(x) for x in rng.integers(0, 100, 37)],
            "long": [int(x) for x in rng.integers(0, 50257, 50000)]}
    rows = [(k, v, len(v), "s") for k, v in docs.items()]
    seq = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")
    fs = catalogue()[["cnt", "mean", "std", "ac_1", "histmode5"]]
    got = {r["doc_id"]: r for r in series_features(
        seq, fs, max_batch_cells=1 << 16).collect()}
    assert set(got) == {"tiny", "short", "long"}  # empty produces no row
    for k in got:
        n = len(docs[k])
        w = 1 << int(np.ceil(np.log2(max(n, 1))))
        want = fs.evaluate_series(np.asarray(docs[k], float), width=w)
        for name, v in want.items():
            g = got[k][name]
            # kernel NaN crosses the Arrow boundary as SQL NULL
            if np.isnan(v):
                assert g is None or np.isnan(g), (k, name, g)
            else:
                assert g == v, (k, name, g, v)

    a = series_features(seq, fs, num_partitions=1).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    b = series_features(seq, fs, num_partitions=3).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    for c in a.columns:
        assert np.array_equal(a[c].to_numpy(), b[c].to_numpy(),
                              equal_nan=(a[c].dtype.kind == "f")), c


def test_dim_stack_matches_per_column_series_features(spark):
    """DimStack-style multi-column map: each {col}_{feat} block is
    bit-identical to series_features run on that column alone."""
    import numpy as np
    from pyspark.sql import functions as F
    from tsf.registry import catalogue
    from tsf.rollup import dim_stack_features, series_features

    seq = synth_sequences(spark, 30, seed=11, longtail_max=4000) \
        .where("n_tok >= 3")
    d = seq.withColumn("head", F.expr("slice(tokens, 1, 50)"))
    fs = catalogue()[["cnt", "mean", "std", "ac_1"]]
    got = dim_stack_features(d, ["tokens", "head"], fs).toPandas() \
        .set_index("doc_id").sort_index()
    for col, src in [("tokens", seq),
                     ("head", seq.withColumn(
                         "tokens", F.expr("slice(tokens, 1, 50)"))
                      .withColumn("n_tok", F.expr("size(tokens)")))]:
        want = series_features(src, fs).toPandas() \
            .set_index("doc_id").sort_index()
        for n in fs.names:
            a = got[f"{col}_{n}"].to_numpy()
            b = want[n].to_numpy()
            ok = (a == b) | (np.isnan(a) & np.isnan(b))
            assert ok.all(), (col, n)


def test_tier0_survives_dirty_rows_and_extreme_longtail(spark):
    """Production-shaped dirt: a NULL tokens array degrades to an empty
    doc (no crash, no row), a stale n_tok neither drops nor fabricates
    windows (chunking trusts size(tokens)), and a 2M-token long-tail doc
    streams through the chunked kernel without one hot batch."""
    import numpy as np
    from pyspark.sql import functions as F
    from tsf.registry import catalogue

    fs = catalogue()[["cnt", "sum_tok", "mean"]]
    big = np.arange(2_000_000, dtype=np.int64) % 1000
    rows = [
        ("ok", list(range(250)), 250, "s"),
        ("nulltok", None, 10, "s"),
        ("stale_small", list(range(300)), 5, "s"),    # n_tok lies low
        ("stale_big", list(range(40)), 99999, "s"),   # n_tok lies high
        ("long", [int(x) for x in big], 2_000_000, "s"),
    ]
    seq = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string")
    out = tier0(seq, fs, window=100, blocks=False).toPandas()
    got = out.groupby("doc_id").agg(n=("window_id", "count"),
                                    cnt=("cnt", "sum"))
    assert "nulltok" not in got.index              # degraded, not crashed
    assert got.loc["ok", "n"] == 3                 # 250 -> 2 full + 1 partial
    assert got.loc["stale_small", "n"] == 3        # all 300 tokens windowed
    assert got.loc["stale_big", "n"] == 1          # only the real 40
    assert got.loc["stale_big", "cnt"] == 40
    assert got.loc["long", "n"] == 20_000
    assert got.loc["long", "cnt"] == 2_000_000
    # window values of the long doc are correct at both ends
    w = out[out["doc_id"] == "long"].sort_values("window_id")
    assert int(w["sum_tok"].iloc[0]) == sum(range(100))
    last = [int(x) for x in big[-100:]]
    assert int(w["sum_tok"].iloc[-1]) == sum(last)

def test_return_type_float32(spark, fixture_df):
    """return_type conversion (reference src/FeatureArrays.jl:217-222):
    float32 outputs carry FloatType schema and equal the float32-cast of
    the float64 run (kernels still compute in float64)."""
    from tsf.rollup import series_features
    fs = default_rollup_features()
    t64 = tier0(fixture_df, fs, blocks=False)
    t32 = tier0(fixture_df, fs, blocks=False, return_type=np.float32)
    assert all(f.dataType.simpleString() == "float"
               for f in t32.schema.fields if f.name in fs.names)
    a = t64.toPandas().sort_values(["doc_id", "window_id"]).reset_index(drop=True)
    b = t32.toPandas().sort_values(["doc_id", "window_id"]).reset_index(drop=True)
    for n in fs.names:
        x = a[n].to_numpy().astype(np.float32)
        y = b[n].to_numpy()
        assert ((x == y) | (np.isnan(x) & np.isnan(y))).all(), n
    s32 = series_features(fixture_df, fs, return_type=np.float32)
    assert all(f.dataType.simpleString() == "float"
               for f in s32.schema.fields if f.name in fs.names)
    assert s32.count() > 0


def test_window_identity_across_producers(spark, tmp_path):
    """Every tier-0 producer keys a window the same way: batch tier0,
    tier0_vectors and the stateful stream emit the same (doc_id,
    window_id, win_start) rows, and the pairwise super pass keeps
    exactly tier0's full (cnt == W) windows, with the same token sums.
    The long doc spans three 12,800-token chunks at W=50."""
    from tsf import streaming
    from tsf.pairwise import make_super_fn
    from tsf.registry import catalogue
    from tsf.rollup import tier0_vectors
    from tsf.windows import chunk_sequences

    W = 50
    rng = np.random.default_rng(11)
    docs = {"long": 30_017, "chunk": 12_800, "short": 37, "empty": 0}
    full = spark.createDataFrame(
        [(k, rng.integers(0, 1000, n).tolist(), n, "s")
         for k, n in docs.items()],
        "doc_id string, tokens array<int>, n_tok int, source string")
    keys = ["doc_id", "window_id", "win_start"]

    def rows(pdf):
        return pdf[keys].sort_values(keys).reset_index(drop=True)

    feats = catalogue()[["cnt", "sum_tok"]]
    t0 = tier0(full, feats, window=W, blocks=False).toPandas()
    assert len(t0) == sum(-(-n // W) for n in docs.values())
    assert (t0.groupby("doc_id").window_id.max() >= 600).any()
    assert (t0.win_start == t0.window_id * W).all()

    vec = tier0_vectors(full, names=("z",), window=W).toPandas()
    pd.testing.assert_frame_equal(
        rows(vec.assign(win_start=vec.window_id * W)), rows(t0))

    chunks = str(tmp_path / "chunks")
    (chunk_sequences(full, W).drop("chunk_id")
     .unionByName(streaming.end_of_doc_markers(full))
     .write.parquet(chunks))
    stream = spark.readStream.schema(
        "doc_id string, source string, chunk_off long, "
        "chunk_toks array<int>").parquet(chunks)
    out = str(tmp_path / "out")
    q = (streaming.stream_tier0_stateful(stream, feats, window=W)
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    pd.testing.assert_frame_equal(
        rows(spark.read.parquet(out).toPandas()), rows(t0))

    sup = (chunk_sequences(full, W)
           .mapInPandas(make_super_fn(W, need_phase=False, need_toks=True),
                        "doc_id string, source string, window_id bigint, "
                        "t array<double>, sm double, sq double")
           .select("doc_id", "window_id", "sm").toPandas())
    t0_full = t0[t0.cnt == W]
    pd.testing.assert_frame_equal(
        rows(sup.assign(win_start=sup.window_id * W)), rows(t0_full))
    assert (sup.sort_values(["doc_id", "window_id"]).sm.to_numpy()
            == t0_full.sort_values(["doc_id", "window_id"])
            .sum_tok.to_numpy()).all()
