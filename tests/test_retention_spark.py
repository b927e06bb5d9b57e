"""Retention policies: logical filter, coverage-safety interlock, and
physical expiry of the ledger-partitioned layout."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tsf import ledger, retention
from tsf.io import synth_sequences
from tsf.registry import catalogue
from tsf.rollup import next_tier, tier0

FEATS = ["cnt", "sum_tok", "min_tok", "max_tok", "mean", "std"]


def _two_tiers(spark):
    seq = synth_sequences(spark, 20, seed=4, longtail_max=6000)
    fs = catalogue()[FEATS]
    t0 = tier0(seq, fs, window=20)
    t1 = next_tier(t0, 0, fs, window=20)
    cols = ["doc_id", "source", "tier", "window_id", "win_start", *FEATS]
    return t0.select(cols).unionByName(t1.select(cols))


def test_retention_filter_keeps_newest(spark):
    roll = _two_tiers(spark)
    out = retention.retention_filter(roll, {0: 3}).toPandas()
    t0 = out[out["tier"] == 0]
    for doc, grp in t0.groupby("doc_id"):
        assert len(grp) <= 3
        # the kept windows are each doc's HIGHEST window ids
        all_w = (roll.where(F.col("tier") == 0)
                 .where(F.col("doc_id") == doc)
                 .select("window_id").toPandas()["window_id"])
        assert set(grp["window_id"]) == set(sorted(all_w)[-len(grp):])
    # tier 1 untouched (absent from policy)
    assert len(out[out["tier"] == 1]) == \
        roll.where("tier = 1").count()


def test_coverage_gap_interlock(spark):
    roll = _two_tiers(spark)
    # keeping everything at tier 1 covers ANY tier-0 prune
    assert retention.coverage_gaps(roll, {0: 2}).count() == 0
    # pruning tier 1 to 1 window while dropping old tier-0 windows leaves
    # expired tier-0 spans with no coarse summary -> gaps
    gaps = retention.coverage_gaps(roll, {0: 1, 1: 1})
    long_docs = (roll.where("tier = 0").groupBy("doc_id").count()
                 .where("count > 20").count())
    if long_docs:
        assert gaps.count() > 0


def test_apply_retention_physical(spark, tmp_path):
    seq = ledger.with_partition_id(
        synth_sequences(spark, 20, seed=4, longtail_max=6000), 4)
    fs = catalogue()[FEATS]
    data = str(tmp_path / "data")
    led = str(tmp_path / "led")
    rolled = tier0(seq.drop("partition_id"), fs, window=20, blocks=False) \
        .join(F.broadcast(seq.select("doc_id", "partition_id").distinct()),
              "doc_id")
    ledger.run_tier_with_ledger(spark, rolled, 0, data, led)

    before = spark.read.parquet(data).toPandas()
    kept = retention.apply_retention(spark, data, {0: 3})
    after = spark.read.parquet(data).toPandas()
    assert len(after) == kept[0] < len(before)
    # exactly each doc's newest <=3 windows survive
    want = (before.sort_values("window_id").groupby("doc_id").tail(3))
    assert set(map(tuple, after[["doc_id", "window_id"]].to_numpy())) == \
        set(map(tuple, want[["doc_id", "window_id"]].to_numpy()))


def test_apply_retention_refuses_unsafe(spark, tmp_path):
    """Pruning a NON-top tier is refused when the dropped windows lose
    their coarser cover; the TOP tier prunes freely (retention of the
    coarsest tier is lossy by intent)."""
    seq = ledger.with_partition_id(
        synth_sequences(spark, 20, seed=4, longtail_max=6000), 4)
    fs = catalogue()[FEATS]
    data = str(tmp_path / "d2")
    led = str(tmp_path / "l2")
    pid = F.broadcast(seq.select("doc_id", "partition_id").distinct())
    t0 = tier0(seq.drop("partition_id"), fs, window=20)
    ledger.run_tier_with_ledger(spark, t0.join(pid, "doc_id"), 0, data, led)
    t1 = next_tier(t0, 0, fs, window=20)
    ledger.run_tier_with_ledger(
        spark, t1.drop("values_gorilla").join(pid, "doc_id"), 1, data, led)
    # pruning BOTH tiers hard leaves old tier-0 spans with no cover
    with pytest.raises(ValueError, match="unsafe retention"):
        retention.apply_retention(spark, data, {0: 1, 1: 1})
    # force override still works and physically expires both tiers
    kept = retention.apply_retention(spark, data, {0: 1, 1: 1}, force=True)
    after = spark.read.parquet(data)
    assert after.where("tier = 0").count() == kept[0]
    assert after.where("tier = 1").count() == kept[1]
