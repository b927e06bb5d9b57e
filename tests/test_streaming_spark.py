"""Structured Streaming surface: incremental tier-0 ingestion with
exactly-once file semantics, ledger integration, watermarked windows."""

import numpy as np
import pandas as pd
import pytest

from tsf import streaming
from tsf.io import synth_sequences
from tsf.registry import catalogue
from tsf.rollup import tier0

FEATS = ["cnt", "sum_tok", "min_tok", "max_tok", "mean", "std", "ac_1"]


def _fs():
    return catalogue()[FEATS]


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    return (pdf.sort_values(["doc_id", "tier", "window_id"])
            .reset_index(drop=True))


def _assert_same(a: pd.DataFrame, b: pd.DataFrame):
    a, b = _canon(a), _canon(b)
    assert len(a) == len(b)
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == "f":
            eq = (av == bv) | (np.isnan(av) & np.isnan(bv))
        else:
            eq = av == bv
        assert np.asarray(eq).all(), c


@pytest.fixture()
def seq_batches(spark, tmp_path):
    """Two arrival batches of sequence files in one input dir."""
    from pyspark.sql import functions as F
    d = str(tmp_path / "arrivals")
    s1 = synth_sequences(spark, 40, seed=1, longtail_max=5000)
    s2 = (synth_sequences(spark, 40, seed=2, longtail_max=5000)
          .withColumn("doc_id", F.concat("doc_id", F.lit("-b2"))))
    return d, s1, s2


def test_stream_equals_batch_and_is_incremental(spark, tmp_path, seq_batches):
    d, s1, s2 = seq_batches
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    s1.write.mode("append").parquet(d)

    q = streaming.stream_tier0(spark, d, out, ckpt, _fs())
    q.awaitTermination(120)
    got1 = spark.read.parquet(out).toPandas()
    want1 = tier0(spark.read.parquet(d), _fs()).toPandas()
    _assert_same(got1, want1)

    # second arrival: only the new files are processed (exactly-once),
    # and the union equals a batch run over everything
    s2.write.mode("append").parquet(d)
    q = streaming.stream_tier0(spark, d, out, ckpt, _fs())
    q.awaitTermination(120)
    got2 = spark.read.parquet(out).toPandas()
    want2 = tier0(spark.read.parquet(d), _fs()).toPandas()
    assert len(got2) > len(got1)
    _assert_same(got2, want2)


def test_stream_with_ledger(spark, tmp_path, seq_batches):
    d, s1, _ = seq_batches
    s1.write.mode("append").parquet(d)
    data = str(tmp_path / "data")
    led = str(tmp_path / "ledger")
    ckpt = str(tmp_path / "ckpt2")
    q = streaming.stream_tier0_with_ledger(spark, d, data, led, ckpt,
                                           n_buckets=8, features=_fs())
    q.awaitTermination(180)
    ledger = spark.read.parquet(led).toPandas()
    assert len(ledger) > 0
    assert (ledger["tier"] == 0).all()
    written = spark.read.parquet(data).drop("tier_p", "partition_id", "batch_id").toPandas()
    want = tier0(spark.read.parquet(d), _fs()).toPandas()
    _assert_same(written, want)


def test_stream_watermarked_window_counts(spark, sf001, tmp_path):
    from pyspark.sql import functions as F
    ev = (spark.read.parquet(f"{sf001}/events.parquet")
          .withColumn("ts", F.col("ts").cast("timestamp")))  # NTZ -> event-time
    evdir = str(tmp_path / "events")
    ev.write.parquet(evdir)  # streaming file source needs a directory
    ev_stream = spark.readStream.schema(ev.schema).parquet(evdir)
    agg = streaming.stream_source_counts(ev_stream)
    q = (agg.writeStream.format("memory").queryName("wm_counts")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT event_type, sum(cnt) AS n FROM wm_counts GROUP BY 1") \
        .toPandas().set_index("event_type")["n"]
    want = (spark.read.parquet(f"{sf001}/events.parquet")
            .groupBy("event_type").count().toPandas()
            .set_index("event_type")["count"])
    assert got.sort_index().equals(want.sort_index().astype(got.dtype))


def test_stream_ledger_multiple_batches_no_data_loss(spark, tmp_path, seq_batches):
    """Regression: a later micro-batch whose docs hash into an
    already-written bucket must NOT replace that bucket's earlier rows
    (round-1 defect: dynamic overwrite on (tier, partition_id) destroyed
    prior batches; ledger claimed buckets whose data was gone)."""
    d, s1, s2 = seq_batches
    data = str(tmp_path / "data")
    led = str(tmp_path / "ledger")
    ckpt = str(tmp_path / "ckpt3")

    s1.write.mode("append").parquet(d)
    q = streaming.stream_tier0_with_ledger(spark, d, data, led, ckpt,
                                           n_buckets=8, features=_fs())
    q.awaitTermination(180)
    n1 = spark.read.parquet(data).count()

    s2.write.mode("append").parquet(d)
    q = streaming.stream_tier0_with_ledger(spark, d, data, led, ckpt,
                                           n_buckets=8, features=_fs())
    q.awaitTermination(180)

    # union on disk equals a batch run over BOTH arrival sets
    written = spark.read.parquet(data).drop(
        "tier_p", "partition_id", "batch_id").toPandas()
    want = tier0(spark.read.parquet(d), _fs()).toPandas()
    assert len(written) > n1
    _assert_same(written, want)

    # ledger has per-(bucket, batch) lineage rows, all with real batch ids
    ledger = spark.read.parquet(led).toPandas()
    assert (ledger["batch_id"] >= 0).all()
    assert ledger.groupby("batch_id").size().shape[0] >= 2
    assert not ledger.duplicated(["tier", "partition_id", "batch_id"]).any()


def test_stream_ledger_buckets_like_rollup_job(spark, tmp_path):
    """The streaming-ledger path and the batch job assign every tier-0
    row the same ledger bucket — a NULL doc_id included (it hashes to
    the seed, so it keeps a bucket on both paths)."""
    import jobs.rollup_job as job
    from pyspark.sql import functions as F

    d = str(tmp_path / "arrivals")
    seq = synth_sequences(spark, 12, seed=5, longtail_max=2000)
    (seq.unionByName(seq.limit(1).withColumn("doc_id", F.lit(None)
                                             .cast("string")))
     .write.parquet(d))
    keys = ["doc_id", "window_id", "partition_id"]

    def buckets(path):
        return (spark.read.parquet(path).select(*keys).toPandas()
                .fillna({"doc_id": "<NULL>"})
                .sort_values(keys).reset_index(drop=True))

    job_out = str(tmp_path / "job")
    job.main(["--input", d, "--output", job_out,
              "--ledger", str(tmp_path / "job_led"), "--tiers", "1",
              "--buckets", "4", "--window", "20",
              "--features", ",".join(FEATS)])
    st_out = str(tmp_path / "stream")
    q = streaming.stream_tier0_with_ledger(
        spark, d, st_out, str(tmp_path / "st_led"), str(tmp_path / "ck"),
        n_buckets=4, features=_fs(), window=20)
    q.awaitTermination(180)
    got, want = buckets(st_out), buckets(job_out)
    assert (want["doc_id"] == "<NULL>").any()
    pd.testing.assert_frame_equal(got, want)


def test_stateful_chunked_stream_equals_batch(spark, tmp_path):
    """applyInPandasWithState custom operator: documents arrive in chunk
    pieces across micro-batches; every window's feature row — INCLUDING
    each doc's final partial (< W) window, flushed by the end-of-doc
    marker — is emitted exactly once and the total output equals the
    FULL batch tier0 output (no cnt == W filtering)."""
    import numpy as np
    from pyspark.sql import functions as F
    from tsf.registry import catalogue

    W = 20
    rng = np.random.default_rng(9)
    # ragged lengths: most docs end mid-window so the finalize flush is
    # genuinely exercised (a multiple-of-W doc has no partial tail)
    docs = {f"d{i}": rng.integers(0, 1000, W * rng.integers(2, 6)
                                  + rng.integers(0, W)).tolist()
            for i in range(12)}
    # the held-back-marker doc must certainly have a partial tail
    docs["d0"] = rng.integers(0, 1000, W * 3 + 7).tolist()
    # split each doc into uneven chunks and spread them over two batches
    rows_b1, rows_b2 = [], []
    for doc_id, toks in docs.items():
        cut1 = int(rng.integers(7, len(toks) - 7))
        cut2 = int(rng.integers(cut1 + 3, len(toks) - 1))
        rows_b1.append((doc_id, "s", 0, toks[:cut1]))
        # second piece arrives in batch 1 too (same-batch ordering)
        rows_b1.append((doc_id, "s", cut1, toks[cut1:cut2]))
        rows_b2.append((doc_id, "s", cut2, toks[cut2:]))
    schema = "doc_id string, source string, chunk_off long, chunk_toks array<int>"
    d = str(tmp_path / "chunks")
    spark.createDataFrame(rows_b1, schema).write.mode("append").parquet(d)
    full = spark.createDataFrame(
        [(k, v, len(v), "s") for k, v in docs.items()],
        "doc_id string, tokens array<int>, n_tok int, source string")
    # end-of-doc markers (an empty chunk at the doc's total length) from
    # the producer API — d0's is HELD BACK to a third batch to prove the
    # tail stays pending without it and flushes when it lands
    markers = streaming.end_of_doc_markers(full)

    feats = catalogue()[["cnt", "sum_tok", "mean", "std", "ac_1"]]
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")

    def drain():
        stream = spark.readStream.schema(schema).parquet(d)
        q = (streaming.stream_tier0_stateful(stream, feats, window=W)
             .writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(180)

    drain()
    got1 = spark.read.parquet(out_dir).toPandas()
    assert len(got1) > 0
    (spark.createDataFrame(rows_b2, schema)
     .unionByName(markers.where("doc_id != 'd0'"))
     .write.mode("append").parquet(d))
    drain()
    got2 = spark.read.parquet(out_dir).toPandas()

    # batch reference over the fully assembled sequences — the FULL
    # output, partial tails included
    want = tier0(full, feats, window=W, blocks=False).toPandas()

    # before d0's marker: everything except d0's pending partial tail
    d0_tail = want[(want["doc_id"] == "d0") & (want["cnt"] < W)]
    _assert_same(got2, want.drop(d0_tail.index))

    # d0's marker lands alone in a third batch: only the tail flushes
    markers.where("doc_id = 'd0'").write.mode("append").parquet(d)
    drain()
    got = spark.read.parquet(out_dir).toPandas()
    _assert_same(got, want)
    # exactly-once: no duplicate (doc, window) rows across batches
    assert not got.duplicated(["doc_id", "window_id"]).any()


def test_stateful_out_of_order_chunks_buffered_not_dropped(spark, tmp_path):
    """Review regression: a chunk arriving BEFORE its predecessor (even
    across micro-batches) must be buffered in state, not dropped —
    Structured Streaming never re-delivers consumed rows."""
    import numpy as np
    from tsf.registry import catalogue

    W = 20
    toks = list(range(1000, 1000 + 3 * W))
    # batch 1 delivers pieces [0,15) and [30,60) — a gap at [15,30)
    b1 = [("d", "s", 0, toks[:15]), ("d", "s", 30, toks[30:])]
    # batch 2 delivers the gap filler [15,30)
    b2 = [("d", "s", 15, toks[15:30])]
    schema = "doc_id string, source string, chunk_off long, chunk_toks array<int>"
    d = str(tmp_path / "ooo")
    feats = catalogue()[["cnt", "sum_tok", "mean"]]
    out_dir, ckpt = str(tmp_path / "out2"), str(tmp_path / "ck2")

    def drain():
        stream = spark.readStream.schema(schema).parquet(d)
        q = (streaming.stream_tier0_stateful(stream, feats, window=W)
             .writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    spark.createDataFrame(b1, schema).write.mode("append").parquet(d)
    drain()
    spark.createDataFrame(b2, schema).write.mode("append").parquet(d)
    drain()
    got = (spark.read.parquet(out_dir).toPandas()
           .sort_values("window_id").reset_index(drop=True))
    # all three windows present with the right sums — nothing lost
    assert list(got["window_id"]) == [0, 1, 2]
    want = [sum(toks[i * W:(i + 1) * W]) for i in range(3)]
    assert [int(x) for x in got["sum_tok"]] == want


def test_stream_exact_dedup_first_wins_across_batches(spark, tmp_path):
    """Streaming exact dedup: each distinct text emits exactly one keeper
    row, on its FIRST arrival; later copies (same or later batches) are
    silent; keeper = min doc_id within the first-arrival batch."""
    schema = "doc_id string, text string"
    d = str(tmp_path / "docs")
    out_dir, ckpt = str(tmp_path / "dd_out"), str(tmp_path / "dd_ck")

    b1 = [("d3", "alpha beta"), ("d1", "alpha beta"), ("d5", "gamma")]
    b2 = [("d0", "alpha beta"), ("d2", "delta"), ("d9", "gamma")]

    def drain():
        stream = spark.readStream.schema(schema).parquet(d)
        q = (streaming.stream_exact_dedup(stream)
             .writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    spark.createDataFrame(b1, schema).write.mode("append").parquet(d)
    drain()
    got1 = spark.read.parquet(out_dir).toPandas()
    assert sorted(got1["keep_doc_id"]) == ["d1", "d5"]

    spark.createDataFrame(b2, schema).write.mode("append").parquet(d)
    drain()
    got2 = spark.read.parquet(out_dir).toPandas()
    # only the genuinely-new text emits; d0's "alpha beta" copy is silent
    # (first-wins: the keeper emitted in batch 1 stands)
    assert sorted(got2["keep_doc_id"]) == ["d1", "d2", "d5"]
    assert not got2.duplicated("content_hash").any()


def test_stream_to_icelite_exactly_once(spark, tmp_path, seq_batches):
    """Each micro-batch lands as ONE atomic snapshot; replayed batches
    are skipped via the lineage check; a dead claimed-but-unpointed
    metadata version does NOT count as committed (replay re-commits,
    no data loss); final table equals the batch tier-0 of everything."""
    import os
    from tsf import icelite

    d, s1, s2 = seq_batches
    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    s1.write.mode("append").parquet(d)
    q = streaming.stream_tier0_to_icelite(spark, d, tbl, ckpt, _fs(),
                                          window=100)
    q.awaitTermination(120)
    lin1 = icelite.lineage(tbl)
    assert [s["extra"]["batch_id"] for s in lin1] == [0]
    _assert_same(icelite.scan(spark, tbl).toPandas(),
                 tier0(spark.read.parquet(d), _fs()).toPandas())

    s2.write.mode("append").parquet(d)
    q = streaming.stream_tier0_to_icelite(spark, d, tbl, ckpt, _fs(),
                                          window=100)
    q.awaitTermination(120)
    want_all = tier0(spark.read.parquet(d), _fs()).toPandas()
    _assert_same(icelite.scan(spark, tbl).toPandas(), want_all)
    n_snaps = len(icelite.lineage(tbl))

    # simulate foreachBatch REPLAY of an already-committed batch id:
    # the lineage gate must skip it (no new snapshot)
    batch1 = spark.read.parquet(d)
    bids = {s["extra"]["batch_id"] for s in icelite.lineage(tbl)}
    assert bids == {0, 1}
    # call the inner process function through a fresh query restart on
    # an UNCHANGED input dir: availableNow finds nothing new -> no-op
    q = streaming.stream_tier0_to_icelite(spark, d, tbl, ckpt, _fs(),
                                          window=100)
    q.awaitTermination(120)
    assert len(icelite.lineage(tbl)) == n_snaps
    _assert_same(icelite.scan(spark, tbl).toPandas(), want_all)

    # crash window: a claimed-but-unpointed metadata version (writer
    # died before the pointer advance) must NOT mask a replay — its
    # rows are not in the table, and lineage excludes it
    cur = icelite._read_current(tbl)
    dead_v = cur["snapshot_id"] + 1
    os.link(icelite._snap_path(tbl, cur["snapshot_id"]),
            icelite._snap_path(tbl, dead_v))
    lin = icelite.lineage(tbl)
    assert dead_v not in {s["snapshot_id"] for s in lin}
    # a later commit still lands (skips the dead version number)
    icelite.append(icelite.scan(spark, tbl).limit(0), tbl,
                   extra={"batch_id": 99})
    assert icelite.lineage(tbl)[-1]["extra"]["batch_id"] == 99


def test_stream_cascade_to_icelite_equals_batch(spark, tmp_path, seq_batches):
    """Multi-tier streaming: each micro-batch cascades tier 0->1->2
    in-batch (docs arrive whole, so windows never span batches) and all
    tiers land in ONE snapshot; the final table equals the batch cascade
    over everything."""
    from tsf import icelite
    from tsf.rollup import cascade

    d, s1, s2 = seq_batches
    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    s1.write.mode("append").parquet(d)
    q = streaming.stream_tier0_to_icelite(spark, d, tbl, ckpt, _fs(),
                                          window=100, tiers=3)
    q.awaitTermination(120)
    s2.write.mode("append").parquet(d)
    q = streaming.stream_tier0_to_icelite(spark, d, tbl, ckpt, _fs(),
                                          window=100, tiers=3)
    q.awaitTermination(120)
    want = None
    for t in cascade(spark.read.parquet(d), tiers=3, features=_fs(),
                     window=100):
        tp = t.toPandas()
        want = tp if want is None else __import__("pandas").concat(
            [want, tp], ignore_index=True)
    got = icelite.scan(spark, tbl).toPandas()
    assert sorted(got.columns) == sorted(want.columns)
    _assert_same(got, want)
    # tier partition pruning works on the streamed table
    assert 0 < icelite.scan(spark, tbl,
                            where=[("tier", "==", 2)]).count() < len(got)

def test_stateful_finalize_refuses_token_loss():
    """An end-of-doc marker that disagrees with the assembled tokens
    (chunks buffered past the declared end, or the frontier overshooting
    it) must FAIL the finalize, not silently drop real tokens."""
    import pandas as pd
    import pytest as _pytest
    from tsf.registry import catalogue
    from tsf.streaming import make_stateful_tier0_fn

    class FakeState:
        exists = False
        def update(self, v): self.exists, self._v = True, v
        def remove(self): self.exists = False
        @property
        def get(self): return self._v

    fn = make_stateful_tier0_fn(catalogue()[["cnt", "mean"]], W=4)

    def run(rows):
        pdf = pd.DataFrame(rows, columns=["chunk_off", "chunk_toks",
                                          "source"])
        return list(fn(("d0",), iter([pdf]), FakeState()))

    # sane: 6 tokens, marker at 6 -> one full + one partial window
    out = run([(0, list(range(6)), "s"), (6, [], "s")])
    assert sum(len(o) for o in out) == 2
    # chunk buffered past a gap beyond the declared end
    with _pytest.raises(ValueError, match="refusing to finalize"):
        run([(0, [1, 2, 3], "s"), (9, [7, 7], "s"), (3, [], "s")])
    # frontier overshoots the declared length
    with _pytest.raises(ValueError, match="refusing to finalize"):
        run([(0, list(range(8)), "s"), (5, [], "s")])


def test_stream_dedup_against_index(spark, tmp_path):
    """Streaming incremental near-dedup: batch 1's fresh docs join the
    index, so batch 2's copy of them is rejected; corpus dups are
    rejected from the start; the out_path union holds exactly the fresh
    docs."""
    from pyspark.sql import Row
    from tsf.dedup import build_minhash_index

    words = lambda seed: " ".join(f"w{seed}x{i}" for i in range(40))
    corpus = spark.createDataFrame(
        [Row(doc_id=i, text=words(i)) for i in range(10)])
    idx = str(tmp_path / "idx")
    build_minhash_index(corpus, idx, buckets=4)

    arrivals = str(tmp_path / "arrivals")
    out = str(tmp_path / "fresh")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = (spark.readStream
                  .schema("doc_id long, text string").parquet(arrivals))
        q = streaming.stream_dedup_against_index(
            spark, stream, idx, out, ckpt, threshold=0.5)
        q.awaitTermination(180)

    # batch 1: one corpus dup (of doc 3), one fresh, one within-batch
    # exact dup pair (first doc_id wins)
    spark.createDataFrame([
        Row(doc_id=100, text=words(3)),
        Row(doc_id=101, text=words(500)),
        Row(doc_id=102, text=words(600)),
        Row(doc_id=103, text=words(600)),
    ]).write.mode("append").parquet(arrivals)
    run_once()
    got1 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got1 == {101, 102}

    # batch 2: a dup of batch 1's fresh doc must now be rejected too
    spark.createDataFrame([
        Row(doc_id=200, text=words(500)),
        Row(doc_id=201, text=words(700)),
    ]).write.mode("append").parquet(arrivals)
    run_once()
    got2 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got2 == {101, 102, 201}


def test_stream_dedup_batch_replay_idempotent(spark, tmp_path):
    """Checkpoint-replay safety: re-running the SAME micro-batch (same
    batch_df + batch_id — what foreachBatch does after a crash between
    the index append and the checkpoint commit) must reproduce the
    identical landing directory and index state. The killer case is two
    near-dup docs WITHIN the batch (different doc_ids): the first
    attempt appended both to the index, so a naive replay probe flags
    each against the other and rewrites the landing dir EMPTY —
    permanently losing both docs."""
    from pyspark.sql import Row
    from tsf.dedup import build_minhash_index, dedup_against_index
    from tsf.streaming import _dedup_index_batch

    words = lambda seed: " ".join(f"w{seed}x{i}" for i in range(40))
    near = lambda seed, edit: " ".join(
        (f"E{edit}" if i == 0 else f"w{seed}x{i}") for i in range(40))
    corpus = spark.createDataFrame(
        [Row(doc_id=i, text=words(i)) for i in range(10)])
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "fresh")
    build_minhash_index(corpus, idx, buckets=4)

    # batch 7: docs 300/301 are near-dups OF EACH OTHER (one-word edits
    # of the same base, jaccard ~0.9) but of nothing in the index;
    # doc 302 is a true dup of indexed doc 4
    batch = spark.createDataFrame([
        Row(doc_id=300, text=near(900, 1)),
        Row(doc_id=301, text=near(900, 2)),
        Row(doc_id=302, text=words(4)),
    ])
    for attempt in range(2):  # first attempt, then the crash replay
        _dedup_index_batch(spark, batch, 7, idx, out, threshold=0.5)
        got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
        assert got == {300, 301}, (attempt, got)
        # index state is stable too: batch b7's sig partition holds
        # exactly the two fresh docs, not 2x after the replay
        sigs = spark.read.parquet(f"{idx}/sigs").where("batch = 'b7'")
        assert sigs.count() == 2, attempt
    # and the append really landed: a later increment's copy of doc 300
    # is rejected by the probe (no exclusion — different batch)
    inc = spark.createDataFrame([Row(doc_id=400, text=near(900, 1))])
    dups = dedup_against_index(spark, inc, idx, 0.5)
    assert {r["dup_of"] for r in dups.collect()} >= {300}
