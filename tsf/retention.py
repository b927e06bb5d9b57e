"""Retention policies over the tier cascade.

North rule: a "rollup + downsample + RETENTION engine ... at cascading
retention tiers (raw -> 10x -> 100x downsample)". The cascade
(:mod:`tsf.rollup`) produces the tiers; this module expires them:

- a **policy** maps tier -> how many of each doc's NEWEST windows to keep
  (``None`` = keep all). Lower tiers keep a short hot tail at full
  resolution; higher tiers keep long history cheaply — the classic
  continuous-aggregate retention shape.
- :func:`retention_filter` is the logical form (a pure DataFrame
  transform, usable in any plan).
- :func:`coverage_gaps` is the SAFETY interlock: rows tier t would drop
  whose span is NOT covered by a retained tier-(t+1) window. Pruning with
  a policy whose gaps are non-empty destroys information that no coarser
  tier preserves; :func:`apply_retention` refuses unless ``force=True``.
- :func:`apply_retention` is the physical form: rewrites the partitioned
  rollup layout per tier with dynamic partition overwrite (the same
  idempotent write path the ledger uses).

Scale shape: everything is a window-aggregate + semi/anti-join keyed by
(doc_id) or (doc_id, parent window) — no cross products, no token reads
(retention only ever touches rollup rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from tsf.io import _hadoop_fs
from tsf.windows import TIER_FACTOR


def _keep_last(df: DataFrame, keep: int) -> DataFrame:
    """Rows among each doc's ``keep`` highest window_ids (dense over the
    windows that exist — a doc with fewer windows keeps them all)."""
    w = Window.partitionBy("doc_id").orderBy(F.desc("window_id"))
    return (df.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= keep).drop("_rk"))


def retention_filter(rollup: DataFrame,
                     policy: dict[int, int | None]) -> DataFrame:
    """Apply a retention policy to a (multi-tier) rollup frame.

    ``policy[t] = k`` keeps each doc's newest ``k`` tier-t windows;
    ``None`` keeps the tier whole; tiers absent from the policy are kept
    whole.

    Single window pass over (tier, doc_id) — no distinct-tier collect
    (which would force a full extra computation of the upstream cascade)
    and no per-tier filter+union fan-out. The per-tier keep limit is a
    CASE expression; NULL (tier not in policy / keep=None) keeps all."""
    kept = {t: k for t, k in policy.items() if k is not None}
    if not kept:
        return rollup
    limit = F.lit(None).cast("int")
    for t, k in kept.items():
        limit = F.when(F.col("tier") == t, F.lit(int(k))).otherwise(limit)
    w = Window.partitionBy("tier", "doc_id").orderBy(F.desc("window_id"))
    return (rollup.withColumn("_keep", limit)
            .withColumn("_rk", F.row_number().over(w))
            .where(F.col("_keep").isNull() | (F.col("_rk") <= F.col("_keep")))
            .drop("_rk", "_keep"))


def coverage_gaps(rollup: DataFrame, policy: dict[int, int | None],
                  max_tier: int | None = None) -> DataFrame:
    """Rows a policy would DROP from tier t with no retained tier-(t+1)
    window covering their span (tier-t window w is covered by tier-(t+1)
    window w div TIER_FACTOR). Empty <=> the prune is information-safe:
    every expired fine window still has a coarse summary."""
    # tier-generic plan — two anti-joins, no per-tier loop and no
    # driver-side distinct-tier collect (which would force an extra full
    # computation of a derived rollup frame): dropped = rollup \ retained
    # on (tier, doc_id, window_id); a dropped tier-t row gaps unless a
    # retained tier-(t+1) row covers window_id div TIER_FACTOR. The top
    # tier is never coverage-gated (nothing coarser exists) — its bound
    # comes from a broadcast 1-row max(tier) aggregate, still no collect.
    retained = retention_filter(rollup, policy)
    dropped = rollup.join(
        retained.select("tier", "doc_id", "window_id"),
        ["tier", "doc_id", "window_id"], "left_anti")
    if max_tier is None:
        top = rollup.agg(F.max("tier").alias("_top"))
        dropped = (dropped.join(F.broadcast(top))
                   .where(F.col("tier") < F.col("_top")).drop("_top"))
    else:
        dropped = dropped.where(F.col("tier") < max_tier)
    cover = retained.select((F.col("tier") - 1).alias("tier"), "doc_id",
                            F.col("window_id").alias("parent_id"))
    return (dropped
            .withColumn("parent_id", F.expr(f"window_id div {TIER_FACTOR}"))
            .join(cover, ["tier", "doc_id", "parent_id"], "left_anti")
            .drop("parent_id"))


def apply_retention(spark: SparkSession, data_path: str,
                    policy: dict[int, int | None],
                    force: bool = False) -> dict[int, int]:
    """Physically expire rollup storage written by the ledger layout
    (partitioned by tier_p/batch_id/partition_id): per pruned tier, the
    retained rows are rewritten with dynamic partition overwrite.
    Refuses unsafe policies (see :func:`coverage_gaps`) unless ``force``.

    Returns {tier: rows_retained}."""
    data = spark.read.parquet(data_path)
    if not force:
        n_gaps = coverage_gaps(data, policy).count()
        if n_gaps:
            raise ValueError(
                f"unsafe retention policy: {n_gaps} windows would be "
                f"dropped with no coarser-tier coverage (force=True to "
                f"override)")
    out: dict[int, int] = {}
    for t, keep in sorted(policy.items()):
        if keep is None:
            continue
        # filter on the PARTITION column so the scan prunes to this
        # tier's directory instead of reading the whole layout
        # (tier_p == tier by construction: run_tier_with_ledger writes
        # tier_p = lit(tier))
        sub = data.where(F.col("tier_p") == t)
        # STAGE the retained rows to a sibling temp path before touching
        # the layout: overwriting the path being read relies on cached
        # partitions surviving the whole write — a lost executor or LRU
        # eviction mid-overwrite would recompute from source files the
        # overwrite already deleted (job failure or silent row loss). The
        # staged copy is durable on disk, so the rewrite never reads what
        # it is replacing.
        stage = f"{data_path}__retention_stage_tier{t}"
        _keep_last(sub, keep).write.mode("overwrite") \
            .parquet(stage)
        kept = spark.read.parquet(stage)
        out[t] = kept.count()
        # dynamic overwrite replaces only partitions PRESENT in `kept`;
        # collect the retained partition set first so fully-pruned
        # partitions (all rows expired) can be removed explicitly.
        # Dead partitions are dropped BEFORE the overwrite: a crash
        # between the two steps then leaves only already-expired
        # directories missing (intended) instead of stale expired data.
        live = {(int(r[0]), int(r[1]))
                for r in kept.select("batch_id", "partition_id")
                             .distinct().collect()}
        _drop_dead_partitions(spark, data_path, t, live)
        (kept.write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("tier_p", "batch_id", "partition_id")
             .parquet(data_path))
        _rm_path(spark, stage)
    return out


def _rm_path(spark: SparkSession, path: str) -> None:
    fs, hpath = _hadoop_fs(spark, path)
    if fs.exists(hpath):
        fs.delete(hpath, True)


def _drop_dead_partitions(spark: SparkSession, data_path: str, tier: int,
                          live: set[tuple[int, int]]) -> None:
    """Remove tier partition directories whose rows were ALL expired
    (dynamic overwrite never touches partitions absent from the write)."""
    fs, hpath = _hadoop_fs(spark, f"{data_path}/tier_p={tier}")
    if not fs.exists(hpath):
        return
    for bdir in fs.listStatus(hpath):
        bname = bdir.getPath().getName()
        if not bname.startswith("batch_id="):
            continue
        bid = int(bname.split("=", 1)[1])
        for pdir in fs.listStatus(bdir.getPath()):
            pname = pdir.getPath().getName()
            if not pname.startswith("partition_id="):
                continue
            pid = int(pname.split("=", 1)[1])
            if (bid, pid) not in live:
                fs.delete(pdir.getPath(), True)
