"""Exact resume-from-checkpoint: kill after a partial run, re-run, outputs
bit-identical to a single-shot run (north rule, BASELINE.json:6)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tsf import ledger
from tsf.io import synth_sequences
from tsf.registry import catalogue
from tsf.rollup import tier0

FEATS = ["cnt", "sum_tok", "min_tok", "max_tok", "mean", "std", "ac_1"]


@pytest.fixture()
def seq(spark):
    return ledger.with_partition_id(
        synth_sequences(spark, n_docs=30, longtail_max=5_000), n_buckets=8)


def _run(spark, seq_part, data_path, ledger_path):
    todo = ledger.filter_not_done(spark, seq_part, ledger_path, tier=0)
    fs = catalogue()[FEATS]
    df = tier0(todo, fs).join(
        F.broadcast(seq_part.select("doc_id", "partition_id").distinct()),
        "doc_id")
    return ledger.run_tier_with_ledger(spark, df, 0, data_path, ledger_path)


def test_resume_bit_identical(spark, seq, tmp_path):
    one_shot = str(tmp_path / "oneshot")
    resumed = str(tmp_path / "resumed")
    led1, led2 = str(tmp_path / "led1"), str(tmp_path / "led2")

    # single-shot run of everything
    n = _run(spark, seq, one_shot, led1)
    assert n == 8

    # "crashed" run: only buckets 0-2 commit
    partial = seq.where("partition_id <= 2")
    n = _run(spark, partial, resumed, led2)
    assert n == 3
    # resume with the full input: only the 5 remaining buckets process
    n = _run(spark, seq, resumed, led2)
    assert n == 5
    # third run: nothing left
    n = _run(spark, seq, resumed, led2)
    assert n == 0

    a = (spark.read.parquet(one_shot).drop("tier_p", "partition_id")
         .toPandas().sort_values(["doc_id", "window_id"]).reset_index(drop=True))
    b = (spark.read.parquet(resumed).drop("tier_p", "partition_id")
         .toPandas().sort_values(["doc_id", "window_id"]).reset_index(drop=True))
    assert len(a) == len(b) and list(a.columns) == list(b.columns)
    assert "values_gorilla" in a.columns  # block bytes compared too
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == "f":
            assert ((av == bv) | (np.isnan(av) & np.isnan(bv))).all(), c
        else:
            assert (av == bv).all(), c

    # ledgers agree on per-bucket checksums, which cover the block bytes
    la = spark.read.parquet(led1).select("partition_id", "checksum", "rows_out")
    lb = spark.read.parquet(led2).select("partition_id", "checksum", "rows_out")
    assert sorted(la.collect()) == sorted(lb.collect())


def test_watermark_and_metrics_present(spark, seq, tmp_path):
    data, led = str(tmp_path / "d"), str(tmp_path / "l")
    _run(spark, seq, data, led)
    rows = spark.read.parquet(led).collect()
    assert all(r.watermark >= 0 for r in rows)
    assert all(r.rows_out > 0 for r in rows)
    assert all(r.points_per_sec > 0 for r in rows)
