"""spark-submit entrypoint: resumable tier-cascade rollup over a
sequences table.

Ship it:

    python jobs/package.py                         # builds dist/tsf.zip
    spark-submit --master yarn --py-files dist/tsf.zip \
        jobs/rollup_job.py --input s3://bucket/sequences \
        --output s3://bucket/rollup --ledger s3://bucket/rollup_ledger \
        --tiers 3 --buckets 4096

Local smoke (sandbox):

    spark-submit --master 'local[8]' --py-files dist/tsf.zip \
        jobs/rollup_job.py --input .bench_scratch/sequences \
        --output /tmp/rollup --ledger /tmp/rollup_ledger --buckets 32

The job is idempotent: each (tier, bucket) commits a ledger row only
after its data write lands, and a re-run processes just the buckets with
no committed row (exact resume — see tsf/ledger.py docstring).
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="sequences parquet/iceberg path")
    p.add_argument("--output", required=True, help="rollup data path")
    p.add_argument("--ledger", required=True, help="ledger table path")
    p.add_argument("--tiers", type=int, default=3)
    p.add_argument("--window", type=int, default=100)
    p.add_argument("--buckets", type=int, default=4096,
                   help="logical resume buckets (stable across cluster sizes)")
    p.add_argument("--features", default=None,
                   help="comma-separated feature names (default: rollup set)")
    p.add_argument("--retain", default=None,
                   help="retention policy 'tier:keep,...' (e.g. '0:48,1:96')"
                        " applied AFTER the cascade; refuses policies that"
                        " would expire windows with no coarser-tier coverage"
                        " (see tsf/retention.py), --force-retain overrides")
    p.add_argument("--force-retain", action="store_true")
    p.add_argument("--publish", default=None,
                   help="icelite table path: after the cascade (and "
                        "retention), publish ALL tiers as ONE atomic "
                        "snapshot commit — consumers get snapshot "
                        "isolation and a time-travelable run history "
                        "(see tsf/icelite.py; on a real cluster use "
                        "write_rollup(table=...) -> Iceberg proper)")
    p.add_argument("--publish-buckets", type=int, default=64,
                   help="bucket(doc_id) width of the published table")
    args = p.parse_args(argv)
    retain_policy = None
    if args.retain:
        try:
            retain_policy = {}
            for kv in args.retain.split(","):
                tier_s, keep_s = kv.split(":")
                retain_policy[int(tier_s)] = int(keep_s)
        except ValueError:
            p.error(f"--retain must be 'tier:keep[,tier:keep...]', got "
                    f"{args.retain!r}")

    from pyspark.sql import functions as F

    from tsf import ledger as L
    from tsf.registry import catalogue, default_rollup_features
    from tsf.rollup import next_tier, tier0
    from tsf.session import get_spark

    from pyspark.sql import SparkSession
    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark("tsf-rollup")
    feats = (catalogue()[args.features.split(",")] if args.features
             else default_rollup_features())

    t_start = time.time()
    seq = L.with_partition_id(spark.read.parquet(args.input), args.buckets)
    todo = L.filter_not_done(spark, seq, args.ledger, tier=0)
    # tier0 only builds the plan, so a bad --window raises before the
    # isEmpty scan of the input and the ledger anti-join
    rolled = L.with_partition_id(tier0(todo, feats, window=args.window),
                                 args.buckets)
    if todo.isEmpty():
        print("tier 0: nothing to do (all buckets committed)")
    else:
        n = L.run_tier_with_ledger(spark, rolled, 0, args.output, args.ledger)
        print(f"tier 0: committed {n} buckets")

    prev = (spark.read.parquet(args.output)
            .where(F.col("tier_p") == 0).drop("tier_p", "partition_id"))
    for t in range(1, args.tiers):
        nxt = L.filter_not_done(
            spark, L.with_partition_id(
                next_tier(prev, t - 1, feats, window=args.window),
                args.buckets), args.ledger, tier=t)
        n = L.run_tier_with_ledger(spark, nxt, t, args.output, args.ledger)
        print(f"tier {t}: committed {n} buckets")
        prev = (spark.read.parquet(args.output)
                .where(F.col("tier_p") == t).drop("tier_p", "partition_id"))

    if retain_policy:
        from tsf import retention
        kept = retention.apply_retention(spark, args.output, retain_policy,
                                         force=args.force_retain)
        for t, nrows in sorted(kept.items()):
            print(f"retention tier {t}: kept {nrows} rows")

    if args.publish:
        from tsf import icelite
        pub = (spark.read.parquet(args.output)
               .drop("tier_p", "batch_id", "partition_id"))
        try:
            snap = icelite.replace(pub, args.publish)
        except LookupError:
            snap = icelite.create(
                pub, args.publish,
                [("identity", "tier"),
                 ("bucket", "doc_id", args.publish_buckets)])
        n_rows = sum(r["rows"] for r in snap["manifests"])
        print(f"published snapshot {snap['snapshot_id']} "
              f"({n_rows} rows) to {args.publish}")

    led = spark.read.parquet(args.ledger)
    led.groupBy("tier").agg(
        F.count("*").alias("buckets"),
        F.sum("rows_out").alias("rows"),
        F.round(F.avg("points_per_sec")).alias("avg_points_per_sec")).show()
    print(f"total wall: {time.time() - t_start:.1f}s")
    if owns_session:  # never tear down a caller-owned session (tests)
        spark.stop()


if __name__ == "__main__":
    main()
