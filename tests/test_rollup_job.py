"""End-to-end spark-submit entrypoint: cascade + ledger resume + --retain."""

import pytest

from tsf.io import synth_sequences


def test_rollup_job_cascade_and_retain(spark, tmp_path):
    """The CLI path: 2-tier cascade commits through the ledger, --retain
    keeps each doc's newest k tier-0 windows, malformed --retain fails
    fast before any work."""
    import jobs.rollup_job as job

    src = str(tmp_path / "seq")
    synth_sequences(spark, 12, seed=9, longtail_max=3000).write.parquet(src)
    out, led = str(tmp_path / "out"), str(tmp_path / "led")
    job.main(["--input", src, "--output", out, "--ledger", led,
              "--tiers", "2", "--buckets", "4", "--window", "20",
              "--features", "cnt,sum_tok,min_tok,max_tok,mean,std",
              "--retain", "0:2"])
    import pandas as pd
    data = spark.read.parquet(out).toPandas()
    t0 = data[data.tier == 0]
    assert (t0.groupby("doc_id").size() <= 2).all()
    # retained windows are each doc's newest
    for doc, grp in t0.groupby("doc_id"):
        assert set(grp.window_id) == set(sorted(grp.window_id)[-len(grp):])
    assert (data.tier == 1).sum() > 0  # tier 1 untouched by the policy
    # ledger recorded both tiers
    led_df = spark.read.parquet(led).toPandas()
    assert set(led_df.tier) == {0, 1}

    with pytest.raises(SystemExit):
        job.main(["--input", src, "--output", out, "--ledger", led,
                  "--retain", "0:48,1"])

    # a window that is not a multiple of 10 fails before tier 0 is
    # written, and before any Spark job scans the input's rows
    out25 = str(tmp_path / "out25")
    sc = spark.sparkContext
    sc.setJobGroup("window25", "rollup_job --window 25")
    try:
        with pytest.raises(ValueError, match="multiple of 10"):
            job.main(["--input", src, "--output", out25,
                      "--ledger", str(tmp_path / "led25"), "--window", "25"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert not (tmp_path / "out25").exists()
    st = sc.statusTracker()
    stages = [st.getStageInfo(s).name
              for j in st.getJobIdsForGroup("window25")
              for s in st.getJobInfo(j).stageIds]
    # the only job is spark.read.parquet's schema read of the input
    assert all(name.startswith("parquet at") for name in stages), stages


def test_rollup_job_publish(spark, tmp_path):
    """--publish lands the whole cascade as one atomic icelite snapshot;
    a second run publishes a NEW snapshot with the first still
    time-travelable."""
    from tsf import icelite
    import jobs.rollup_job as job

    src = str(tmp_path / "seq")
    synth_sequences(spark, 10, seed=3, longtail_max=2000).write.parquet(src)
    out, led = str(tmp_path / "out"), str(tmp_path / "led")
    pub = str(tmp_path / "pub")
    argv = ["--input", src, "--output", out, "--ledger", led,
            "--tiers", "2", "--buckets", "4", "--window", "20",
            "--features", "cnt,sum_tok,min_tok,max_tok,mean,std",
            "--publish", pub, "--publish-buckets", "4"]
    job.main(argv)
    import pandas as pd
    want = (spark.read.parquet(out)
            .drop("tier_p", "batch_id", "partition_id").toPandas())
    got = icelite.scan(spark, pub).toPandas()
    assert len(got) == len(want)
    cols = ["doc_id", "tier", "window_id"]
    pd.testing.assert_frame_equal(
        got[cols].sort_values(cols).reset_index(drop=True),
        want[cols].sort_values(cols).reset_index(drop=True))
    # re-run: everything resumes as done, publish still commits anew
    job.main(argv)
    h = icelite.history(pub)
    assert [s["operation"] for s in h] == ["create", "replace"]
    assert h[0]["rows"] == h[1]["rows"] == len(want)
    # pruning works on the published table (tier identity partition)
    t1 = icelite.scan(spark, pub, where=[("tier", "==", 1)])
    assert 0 < t1.count() < len(want)


def test_export_job_end_to_end(spark, tmp_path):
    """The full training-data export pipeline on sf0.001: stages drop
    monotonically, output layout is (split, shard)-partitioned with
    contiguous pos order inside each shard, and re-running with the same
    seeds reproduces the identical export (determinism)."""
    import jobs.export_job as job
    out = str(tmp_path / "export")
    argv = ["--input", "/root/testdata/sf0.001/documents.parquet",
            "--output", out, "--near-dedup", "--keep-longest",
            "--classifier",
            "--bench-pred", "doc_id % 7 = 0",
            "--mix", "src0:0.5", "--epoch", "1", "--shards", "4"]
    stats = job.main(argv)
    assert stats["input_docs"] > 0
    assert (stats["input_docs"] >= stats["after_quality"]
            >= stats["after_classifier"]
            >= stats["after_exact_dedup"] >= stats["after_near_dedup"]
            >= stats["after_decontam"] >= stats["after_mix"]
            >= stats["written_docs"] > 0)
    assert stats["after_classifier"] < stats["after_quality"]  # it bites
    seq = spark.read.parquet(f"{out}/sequences")
    assert set(seq.select("split").distinct().toPandas()["split"]) <= {
        "train", "val", "test"}
    # pos is dense 1..n within each shard (epoch_shuffle's row_number)
    from pyspark.sql import functions as F
    per = (seq.groupBy("shard")
           .agg(F.count("*").alias("n"), F.min("pos").alias("lo"),
                F.max("pos").alias("hi")).collect())
    assert all(r["lo"] == 1 and r["hi"] == r["n"] for r in per)
    # no bench doc and no PII-looking text survives
    assert seq.where("CAST(doc_id AS BIGINT) % 7 = 0").count() == 0
    # determinism: a second run writes the identical export
    out2 = str(tmp_path / "export2")
    job.main(["--input", "/root/testdata/sf0.001/documents.parquet",
              "--output", out2, "--near-dedup", "--keep-longest",
              "--classifier",
              "--bench-pred", "doc_id % 7 = 0",
              "--mix", "src0:0.5", "--epoch", "1", "--shards", "4"])
    a = spark.read.parquet(f"{out}/sequences")
    b = spark.read.parquet(f"{out2}/sequences")
    cols = sorted(a.columns)
    assert sorted(map(tuple, a.select(*cols).collect())) == \
        sorted(map(tuple, b.select(*cols).collect()))


def test_export_job_incremental_index(spark, tmp_path):
    """Two export runs with a shared history index: run 2 over the SAME
    corpus exports zero docs (everything is a near-dup of run 1's
    survivors), and a partially-fresh corpus exports only the fresh
    docs."""
    import jobs.export_job as job
    from pyspark.sql import functions as F
    idx = str(tmp_path / "history_idx")
    day1_in = "/root/testdata/sf0.001/documents.parquet"
    s1 = job.main(["--input", day1_in, "--index", idx, "--no-stats",
                   "--output", str(tmp_path / "day1")])
    assert s1["written_docs"] > 0
    # day 2: the SAME texts under fresh doc ids (a re-crawl) — all of
    # them dedup against the history index; nothing exports
    day2_in = str(tmp_path / "day2_docs")
    (spark.read.parquet(day1_in)
     .withColumn("doc_id", F.col("doc_id") + 1000000)
     .write.parquet(day2_in))
    s2 = job.main(["--input", day2_in, "--index", idx, "--no-stats",
                   "--output", str(tmp_path / "day2")])
    assert s2["written_docs"] == 0
