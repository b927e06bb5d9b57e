"""Per-tier rollup ledger + exact resume-from-checkpoint.

North rule (BASELINE.json:6): "a per-tier rollup ledger of (partition_id,
watermark, checksum) enabling exact resume-from-checkpoint with
per-partition lineage and throughput metrics".

Protocol
--------
1. Every sequence row gets a deterministic ``partition_id =
   pmod(xxhash64(doc_id), n_buckets)`` — stable across runs and cluster
   sizes (it is a *logical* bucket, not a physical Spark partition).
2. A run processes only buckets with no committed ledger row
   (broadcast anti-join — the done-set is tiny next to the data).
3. Data for the processed buckets is written with dynamic partition
   overwrite (``partitionBy(tier_p, batch_id, partition_id)``), so a
   re-run of a bucket that died mid-write simply replaces its incomplete
   output.
4. The ledger row (watermark = max window_id, an order-insensitive
   checksum over every stored column — Gorilla block bytes included —
   row count, wall time, points/sec) is appended ONLY after the data
   write commits — the ledger is the source of truth for "done".

Resume is therefore exact: kill the job anywhere; the next run redoes
only un-committed buckets and the final table is bit-identical to a
single-shot run (pytest enforces this).

Layout compatibility: since round 2 the physical partition spec is
``tier_p/batch_id/partition_id`` (batch_id = -1 for batch runs) and
ledger rows carry ``batch_id``. A data/ledger path written by the round-1
layout (``tier_p/partition_id``, no batch_id column) CANNOT be mixed with
new writes — Spark's partition inference rejects the conflicting
directory depths, and old ledger rows would read back NULL batch_id so
streaming-mode ``load_done`` never matches them. Start new deployments on
fresh paths; there is deliberately no in-place migration (rewriting a
petabyte layout to move a directory level is the wrong tool — re-rolling
from source through the ledger IS the migration, and the resume protocol
makes it incremental).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F

LEDGER_SCHEMA = ("tier int, partition_id int, watermark bigint, checksum string, "
                 "rows_out bigint, wall_ms bigint, points_per_sec double, "
                 "attempt int, committed_at timestamp, batch_id bigint")


def with_partition_id(seq: DataFrame, n_buckets: int) -> DataFrame:
    """The bucket rule every ledger writer uses (protocol step 1). A NULL
    doc_id hashes to xxhash64's seed, 42, so it keeps a bucket too."""
    return seq.withColumn(
        "partition_id", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int"))


def checksum_expr(cols: list[str]):
    """Order-insensitive content checksum: sum of per-row xxhash64 over the
    named columns (as decimal so it never overflows)."""
    return F.sum(F.xxhash64(*cols).cast("decimal(30,0)")).cast("string")


def load_done(spark: SparkSession, ledger_path: str, tier: int,
              batch_id: int | None = None) -> DataFrame | None:
    try:
        led = spark.read.schema(LEDGER_SCHEMA).parquet(ledger_path)
    except Exception:
        return None
    led = led.where(F.col("tier") == tier)
    if batch_id is not None:
        # streaming: done-ness is per (bucket, micro-batch) — a bucket
        # committed by an EARLIER batch is still due in this one
        led = led.where(F.col("batch_id") == batch_id)
    return led.select("partition_id").distinct()


def run_tier_with_ledger(spark: SparkSession,
                         rollup_df: DataFrame,
                         tier: int,
                         data_path: str,
                         ledger_path: str,
                         batch_id: int | None = None) -> int:
    """Write `rollup_df` (must carry partition_id) bucket-by-bucket with
    ledger commits. Returns number of buckets processed this run.

    `rollup_df` must already be filtered to not-done buckets by the caller
    (see ``jobs/rollup_job.py`` for the full resume loop).

    Batch mode (``batch_id=None``): dynamic partition overwrite on
    (tier, partition_id) — a re-run of a bucket that died mid-write
    replaces its incomplete output.

    Streaming mode (``batch_id`` set, from ``foreachBatch``): the
    micro-batch id joins the partition spec, so each batch owns its own
    physical partitions — a REPLAYED batch (at-least-once foreachBatch)
    overwrites only itself (idempotent), while later batches whose docs
    hash into already-written buckets APPEND new partitions instead of
    destroying earlier batches' data. Ledger rows are keyed by
    (tier, partition_id, batch_id).

    Each ledger row's checksum covers every data column of
    ``rollup_df`` (all but ``partition_id``, which is the bucket itself),
    so two runs agree on it only if they stored the same bytes.
    """
    t0 = time.time()
    csum_cols = [c for c in rollup_df.columns if c != "partition_id"]
    bid = -1 if batch_id is None else int(batch_id)
    df = (rollup_df.withColumn("tier_p", F.lit(tier))
          .withColumn("batch_id", F.lit(bid).cast("bigint")))
    (df.write.mode("overwrite")
       .option("partitionOverwriteMode", "dynamic")
       .partitionBy("tier_p", "batch_id", "partition_id")
       .parquet(data_path))
    wall_ms = int((time.time() - t0) * 1000)
    # ledger rows from the committed data (reading back = lineage of what
    # is actually on disk, not what we intended to write). THIS RUN's
    # buckets are the on-disk partition dirs minus the ledger-committed
    # set — resolved to a LITERAL partition filter BEFORE the readback,
    # so directory pruning confines the scan+checksum to the buckets
    # this run wrote. (All batch-mode runs share batch_id=-1: filtering
    # on (tier, batch) alone would re-read and re-checksum every
    # historical bucket of the tier on each resume, and the old
    # post-aggregation anti-join discarded exactly that wasted work.)
    # Both sets are bounded by the bucket LAYOUT (metadata, not data).
    from tsf.io import _hadoop_fs
    fs, pdir = _hadoop_fs(spark, f"{data_path}/tier_p={tier}/batch_id={bid}")
    on_disk = ({int(s.getPath().getName().split("=", 1)[1])
                for s in fs.listStatus(pdir) if s.isDirectory()}
               if fs.exists(pdir) else set())  # zero-row run writes no dir
    done = load_done(spark, ledger_path, tier, batch_id)
    done_ids = (set() if done is None
                else {r["partition_id"] for r in done.collect()})
    this_run = sorted(on_disk - done_ids)
    written = (spark.read.parquet(data_path)
               .where((F.col("tier_p") == tier) & (F.col("batch_id") == bid)
                      & F.col("partition_id").isin(this_run)))
    stats = (written.groupBy("partition_id")
             .agg(F.max("window_id").alias("watermark"),
                  checksum_expr(csum_cols).alias("checksum"),
                  F.count("*").alias("rows_out"),
                  F.sum("cnt").alias("points")))
    ledger_rows = stats.select(
        F.lit(tier).alias("tier"),
        F.col("partition_id").cast("int"),
        F.col("watermark").cast("bigint"),
        "checksum",
        F.col("rows_out").cast("bigint"),
        F.lit(wall_ms).cast("bigint").alias("wall_ms"),
        (F.col("points") / F.greatest(F.lit(1), F.lit(wall_ms)) * 1000.0
         ).cast("double").alias("points_per_sec"),
        F.lit(1).alias("attempt"),
        F.current_timestamp().alias("committed_at"),
        F.lit(bid).cast("bigint").alias("batch_id"))
    # persist so the readback aggregation (scan + checksum of this
    # run's buckets) executes once, not once for the count and again
    # for the write
    ledger_rows = ledger_rows.persist()
    try:
        n = ledger_rows.count()
        ledger_rows.write.mode("append").parquet(ledger_path)
    finally:
        ledger_rows.unpersist()
    return n


def filter_not_done(spark: SparkSession, seq_with_pid: DataFrame,
                    ledger_path: str, tier: int) -> DataFrame:
    done = load_done(spark, ledger_path, tier)
    if done is None:
        return seq_with_pid
    return seq_with_pid.join(F.broadcast(done), "partition_id", "left_anti")
