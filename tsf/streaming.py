"""Structured Streaming ingestion for the rollup engine.

The north rule's "watermark" is the batch-checkpoint ledger
(:mod:`tsf.ledger`) — Structured Streaming is the *arrival* path: new
sequence files land in a directory (or an Iceberg/Kafka source on a real
deployment) and each micro-batch is rolled up incrementally with
exactly-once file-source semantics (the streaming checkpoint tracks which
input files were consumed; re-running with the same checkpoint processes
only unseen files).

Two shapes:

- :func:`stream_tier0` — declarative: readStream -> :func:`tsf.rollup.tier0`,
  the SAME stateless plan batch runs -> writeStream(parquet). The
  per-(doc, window) kernels need no cross-batch state, so the streaming
  plan IS the batch plan (Spark's unified model).
- :func:`stream_tier0_with_ledger` — ``foreachBatch``: each micro-batch is
  written through the rollup ledger, giving the same per-partition lineage
  rows as a batch run (batch_id recorded as the attempt).

Event-time windowed aggregation with late data (watermarked counts per
source) is provided by :func:`stream_source_counts` to cover the
watermark/window streaming surface over the events-style shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from tsf.registry import FeatureSet, default_rollup_features
from tsf.rollup import cascade, make_tier0_fn, rollup_schema, tier0
from tsf.windows import DEFAULT_WINDOW

SEQ_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"


def read_sequence_stream(spark: SparkSession, input_dir: str,
                         max_files_per_trigger: int | None = None) -> DataFrame:
    r = spark.readStream.schema(SEQ_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(input_dir)


def stream_tier0(spark: SparkSession, input_dir: str, output_dir: str,
                 checkpoint_dir: str,
                 features: FeatureSet | None = None,
                 window: int = DEFAULT_WINDOW,
                 available_now: bool = True) -> StreamingQuery:
    """Incremental tier-0 rollup of newly-arrived sequence files.

    ``available_now=True`` drains everything currently unprocessed and
    stops — the incremental-batch trigger the ledger protocol pairs with;
    pass False for a continuous micro-batch query.
    """
    out = tier0(read_sequence_stream(spark, input_dir), features, window)
    w = (out.writeStream.format("parquet")
         .option("path", output_dir)
         .option("checkpointLocation", checkpoint_dir)
         .outputMode("append"))
    w = w.trigger(availableNow=True) if available_now else w.trigger(processingTime="10 seconds")
    return w.start()


def stream_tier0_with_ledger(spark: SparkSession, input_dir: str,
                             data_path: str, ledger_path: str,
                             checkpoint_dir: str,
                             n_buckets: int = 64,
                             features: FeatureSet | None = None,
                             window: int = DEFAULT_WINDOW) -> StreamingQuery:
    """foreachBatch variant: every micro-batch commits through the rollup
    ledger, so streaming ingestion leaves the same lineage/metrics trail
    as batch runs and crash recovery composes (streaming checkpoint for
    input progress + ledger for per-bucket output commits)."""
    from tsf import ledger as L

    feats = features or default_rollup_features()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        rolled = L.with_partition_id(tier0(batch_df, feats, window),
                                     n_buckets)
        # batch_id in the ledger key + partition spec: a replayed batch is
        # idempotent, a later batch never clobbers earlier buckets
        L.run_tier_with_ledger(spark, rolled, 0, data_path, ledger_path,
                               batch_id=batch_id)

    return (read_sequence_stream(spark, input_dir)
            .writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())


def stream_tier0_to_icelite(spark: SparkSession, input_dir: str,
                            table_path: str, checkpoint_dir: str,
                            features: FeatureSet | None = None,
                            window: int = DEFAULT_WINDOW,
                            doc_buckets: int = 16,
                            tiers: int = 1) -> StreamingQuery:
    """Streaming tier-0 rollup published EXACTLY-ONCE into an
    Iceberg-style snapshot table (:mod:`tsf.icelite`).

    foreachBatch is at-least-once: after a crash between sink write and
    streaming-checkpoint advance, the same micro-batch replays. Here the
    sink write is one ATOMIC snapshot commit carrying ``batch_id`` in
    its metadata, and a replayed batch is skipped iff its batch_id
    appears in the CURRENT snapshot's ancestor :func:`tsf.icelite.
    lineage` — NOT in the raw metadata listing, because a writer that
    died between metadata claim and pointer advance left a version
    whose rows are not in the table (treating that as done would lose
    the batch; lineage excludes it, so the replay re-commits).
    Atomic commit + lineage-gated idempotence = exactly-once table
    state, the Spark->Iceberg streaming-sink contract.

    ``tiers > 1`` cascades WITHIN the micro-batch (tier 1..N-1 derived
    from tier-0 compressed blocks) and commits all tiers in the same
    snapshot. This is exact because this reader delivers each doc's
    sequence row whole in one batch and windows never span docs — a
    CHUNKED arrival stream (stream_tier0_stateful) must instead flush
    tier 0 first and derive higher tiers from the flushed table."""
    from functools import reduce

    from tsf import icelite

    feats = features or default_rollup_features()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        try:
            done = {s["extra"].get("batch_id")
                    for s in icelite.lineage(table_path)}
        except (LookupError, FileNotFoundError):
            done = set()
        if batch_id in done:
            return          # replayed, already atomically committed
        rolled = reduce(lambda a, b: a.unionByName(b),
                        cascade(batch_df, tiers, feats, window))
        try:
            icelite.append(rolled, table_path,
                           extra={"batch_id": batch_id})
        except LookupError:
            spec = [("identity", "source"),
                    ("bucket", "doc_id", doc_buckets)]
            if tiers > 1:
                spec = [("identity", "tier")] + spec
            icelite.create(rolled, table_path, spec,
                           extra={"batch_id": batch_id})

    return (read_sequence_stream(spark, input_dir)
            .writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())


def stream_source_counts(events: DataFrame, watermark: str = "10 minutes",
                         window_len: str = "1 hour") -> DataFrame:
    """Watermarked event-time tumbling-window aggregate over a streaming
    events-shaped frame (ts timestamp, source/event_type string, value) —
    late rows beyond the watermark are dropped by the state store."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window_len).alias("win"), "event_type")
            .agg(F.count("*").alias("cnt"), F.sum("value").alias("sum_value"))
            .select(F.col("win.start").alias("win_start"),
                    F.col("win.end").alias("win_end"),
                    "event_type", "cnt", "sum_value"))


def stream_session_stats(events: DataFrame, gap_s: int = 1800,
                         watermark: str = "1 hour") -> DataFrame:
    """Watermarked streaming sessionization via Spark's NATIVE
    ``session_window`` (gap-merged state store windows) — the streaming
    counterpart of tsf.events.sessionize. Boundary semantics differ by a
    measure-zero case: session_window starts a new session at
    ``delta >= gap`` (window end is last_ts + gap, exclusive) while the
    batch operator uses ``delta > gap``; on microsecond event time the
    two agree except at exact-gap ties. The value sum uses the same
    1e-4-quantized bigint statistic as the batch rollup, so finalized
    sessions are bit-comparable against tsf.events.session_stats."""
    q = F.sum(F.floor(F.col("value") * F.lit(1e4) + F.lit(0.5))
              .cast("bigint"))
    return (events
            .withWatermark("ts", watermark)
            .groupBy("user_id",
                     F.session_window("ts", f"{gap_s} seconds").alias("sw"))
            .agg(F.count("*").alias("n_events"),
                 F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end"),
                 (q.cast("double") / F.lit(1e4)).alias("sum_value"))
            .drop("sw"))


# ------------------------------------------------------- streaming dedup

#: per-content-hash state: how many copies have been consumed so far
DEDUP_STATE_SCHEMA = "seen bigint"


def make_stream_dedup_fn():
    import pandas as pd

    def fn(key, pdf_iter, state):
        (content_hash,) = key
        seen = state.get[0] if state.exists else 0
        first_doc, n_batch = None, 0
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            n_batch += len(pdf)
            m = pdf["doc_id"].astype(str).min()
            first_doc = m if first_doc is None else min(first_doc, m)
        state.update((seen + n_batch,))
        if seen == 0 and first_doc is not None:
            yield pd.DataFrame({"content_hash": [content_hash],
                                "keep_doc_id": [first_doc]})
    return fn


def stream_exact_dedup(docs_stream: DataFrame) -> DataFrame:
    """Streaming exact deduplication: one (content_hash, keep_doc_id) row
    the FIRST time each distinct text is seen — across micro-batches —
    via per-hash GroupState. Copies arriving in later batches emit
    nothing (their state row already exists); the keeper is the smallest
    doc_id within the batch that first carried the text (the earliest
    arrival, matching streaming first-wins semantics — a later batch
    cannot retroactively change an already-emitted keeper).

    Scale shape: state is ONE small row per distinct content hash — the
    floor for any streaming exact dedup — and the shuffle key is the
    64-bit hash, never the text."""
    d = docs_stream.withColumn("content_hash", F.xxhash64("text"))
    from pyspark.sql.streaming.state import GroupStateTimeout
    return (d.groupBy("content_hash")
            .applyInPandasWithState(
                make_stream_dedup_fn(),
                outputStructType="content_hash bigint, keep_doc_id string",
                stateStructType=DEDUP_STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout))


# ------------------------------------------------------- stateful assembly

CHUNK_SCHEMA = ("doc_id string, source string, chunk_off bigint, "
                "chunk_toks array<int>")

#: per-doc state: contiguous frontier + the carried partial-window tail +
#: out-of-order chunks buffered past a gap (offsets + flattened tokens —
#: nested arrays keep the Arrow state schema flat) + the declared
#: end-of-doc offset (-1 = not yet declared; see end-of-doc markers)
STATE_SCHEMA = ("next_off bigint, carry array<int>, source string, "
                "pend_off array<bigint>, pend_len array<int>, "
                "pend_flat array<int>, end_off bigint")


def end_of_doc_markers(seq: DataFrame) -> DataFrame:
    """End-of-doc marker rows for a sequences frame: an EMPTY chunk at
    offset ``n_tok`` declares "doc complete at length n_tok". Producers
    append these after a doc's last real chunk so the stateful operator
    can flush the final partial (< W) window and DROP the doc's state —
    without a marker the tail is held indefinitely (more tokens may
    legitimately arrive)."""
    return seq.select("doc_id", "source",
                      F.col("n_tok").cast("long").alias("chunk_off"),
                      F.expr("cast(array() as array<int>)")
                      .alias("chunk_toks"))


def make_stateful_tier0_fn(features: FeatureSet, W: int):
    """GroupState function for :func:`stream_tier0_stateful`.

    Documents arrive in (chunk_off, chunk_toks) pieces spread over many
    micro-batches. Per doc, the state holds the contiguous frontier
    (next_off), the < W carried tokens behind it, and a BUFFER of chunks
    that arrived beyond a gap (Structured Streaming never re-delivers a
    consumed row, so out-of-order chunks must be held in state, not
    dropped). Each batch merges buffer + arrivals in offset order, emits
    every COMPLETED window's feature row exactly once, and re-buffers
    whatever still sits past a gap.

    A doc's trailing < W tokens are held in state (more may arrive) until
    an END-OF-DOC MARKER — an empty chunk at offset L, declaring the doc
    complete at length L (:func:`end_of_doc_markers`) — is consumed AND
    the contiguous frontier reaches L: then the final partial window is
    emitted exactly like batch tier0's ceil-windowing and the doc's state
    is REMOVED (state stays bounded by in-flight docs, not all docs ever
    seen).

    This is the engine's custom stateful operator
    (``applyInPandasWithState``): the kernels themselves stay the shared
    batch kernels — state only manages window ASSEMBLY, so stateful
    streaming output is bit-identical to a batch run over the assembled
    sequences (enforced in pytest, including cross-batch out-of-order
    arrival and the finalize flush)."""
    import numpy as np
    import pandas as pd

    tier0_fn = make_tier0_fn(features, W, blocks=False)

    def fn(key, pdf_iter, state):
        (doc_id,) = key
        if state.exists:
            next_off, carry, source, p_off, p_len, p_flat, end_off = state.get
            carry = list(carry)
            chunks, pos = [], 0
            for off, ln in zip(p_off, p_len):
                chunks.append((int(off), list(p_flat[pos:pos + ln])))
                pos += ln
        else:
            next_off, carry, source, chunks, end_off = 0, [], None, [], -1
        for pdf in pdf_iter:
            # column zip, not iterrows(): ~100x less per-row overhead in
            # the assembly loop (the kernels stay batch-vectorized)
            for off, ch in zip(pdf["chunk_off"], pdf["chunk_toks"]):
                if len(ch) == 0:    # end-of-doc marker: length = offset
                    end_off = int(off)
                    continue
                chunks.append((int(off), list(ch)))
            if len(pdf):
                source = pdf["source"].iloc[-1]
        chunks.sort(key=lambda c: c[0])
        carry_base = next_off - len(carry)
        toks = carry
        pending: list[tuple[int, list]] = []
        for off, ch in chunks:
            want = carry_base + len(toks)
            if off > want:          # gap: buffer until the gap closes
                pending.append((off, ch))
                continue
            if off + len(ch) <= want:
                continue            # duplicate/overlap: already consumed
            toks = toks + ch[want - off:]
        still = pending  # sorted; everything past the first gap stays put
        frontier = carry_base + len(toks)
        final = end_off >= 0 and frontier >= end_off
        if final:
            if still or frontier != end_off:
                # the marker's declared length disagrees with the tokens
                # actually assembled: buffered chunks past a gap beyond
                # end_off, or chunks extending past the declared end.
                # Dropping state here would silently lose real tokens
                # (producer bug or chunk/marker race) — fail loudly and
                # keep the state for inspection instead.
                raise ValueError(
                    f"doc {doc_id}: end-of-doc marker declares length "
                    f"{end_off} but assembled frontier={frontier} with "
                    f"{len(still)} chunk(s) still buffered beyond a gap "
                    f"(offsets {[o for o, _ in still][:5]}) — refusing "
                    f"to finalize and silently drop tokens")
            # doc complete: flush everything (ceil-windowing emits the
            # partial tail exactly like batch tier0) and drop the state
            emit_toks, tail = toks, []
            state.remove()
        else:
            n_full = len(toks) // W
            emit_toks = toks[:n_full * W]
            tail = [int(x) for x in toks[n_full * W:]]
            state.update((int(frontier), tail, source,
                          [int(o) for o, _ in still],
                          [len(c) for _, c in still],
                          [int(x) for _, c in still for x in c],
                          int(end_off)))
        if not emit_toks:
            return
        # the run starts at carry_base, always W-aligned: a one-row chunk
        # frame gives it batch tier0's window identity and rows
        yield from tier0_fn([pd.DataFrame({
            "doc_id": [doc_id], "source": [source], "chunk_off": [carry_base],
            "chunk_toks": [np.asarray(emit_toks)]})])

    return fn


def stream_tier0_stateful(chunk_stream: DataFrame,
                          features: FeatureSet | None = None,
                          window: int = DEFAULT_WINDOW) -> DataFrame:
    """Incremental tier-0 over a CHUNKED token stream: feature rows for
    each window are emitted exactly once, as soon as the window's tokens
    have all arrived — across micro-batches, via per-doc GroupState."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    features = features or default_rollup_features()
    return (chunk_stream.groupBy("doc_id")
            .applyInPandasWithState(
                make_stateful_tier0_fn(features, window),
                outputStructType=rollup_schema(features, blocks=False),
                stateStructType=STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout))


def _dedup_index_batch(spark: SparkSession, batch_df: DataFrame,
                       batch_id: int, index_path: str, out_path: str,
                       threshold: float) -> None:
    """One micro-batch of :func:`stream_dedup_against_index` — module
    level so tests can drive the replay path directly. Idempotent under
    checkpoint replay (same batch_df + batch_id re-run after a crash
    anywhere in the body yields the identical landing dir and index):

    - the probe passes the batch's own doc_ids as ``exclude``, so index
      entries a crashed first attempt already appended cannot eliminate
      the batch against itself (two near-dup docs IN the batch would
      otherwise flag each other on replay — different doc_ids, so the
      self-match rule alone does not cover them — and the rewrite would
      silently drop both);
    - the landing write overwrites the batch's own directory;
    - the index append is tagged ``b{batch_id}``: a replay dynamically
      overwrites that batch's partitions instead of appending twice.

    Within-batch duplicates collapse to the first doc_id before the
    probe (exact collapse only; near-dups within one batch both land —
    they meet in the NEXT increment's probe only if re-sent)."""
    from tsf import dedup as D
    from tsf.caching import persist_scope, scoped_persist

    if batch_df.isEmpty():
        return
    with persist_scope():
        batch_df = scoped_persist(batch_df)
        # within-batch exact collapse (first-wins by doc_id)
        keep = D.exact_dedup(batch_df).select(
            F.col("keep_doc_id").alias("doc_id"))
        fresh = batch_df.join(keep, "doc_id")
        dup = (D.dedup_against_index(spark, fresh, index_path, threshold,
                                     exclude=fresh.select("doc_id"))
               .select("new_doc_id")
               .distinct().withColumnRenamed("new_doc_id", "doc_id"))
        fresh = scoped_persist(fresh.join(dup, "doc_id", "left_anti"))
        # idempotent per-batch landing zone: a checkpoint replay
        # rewrites the same directory instead of appending twice
        fresh.write.mode("overwrite").parquet(
            f"{out_path}/batch_id={batch_id}")
        D.append_minhash_index(fresh, index_path, batch=f"b{batch_id}")


def stream_dedup_against_index(spark: SparkSession, docs_stream: DataFrame,
                               index_path: str, out_path: str,
                               checkpoint_dir: str,
                               threshold: float = 0.5) -> StreamingQuery:
    """Streaming incremental near-dedup: every micro-batch probes the
    persisted banded minhash index (tsf.dedup.build_minhash_index),
    writes only FRESH docs to ``out_path``, and folds the accepted batch
    into the index so later batches — and later runs — dedup against it.

    Exactly-once composition: the streaming checkpoint replays
    unfinished batches, and every side effect in the batch body is
    replay-idempotent — see :func:`_dedup_index_batch` (probe excludes
    the batch's own ids, landing dir overwrites itself, index append is
    batch-tagged with dynamic partition overwrite)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _dedup_index_batch(spark, batch_df, batch_id, index_path,
                           out_path, threshold)

    return (docs_stream.writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True).start())
