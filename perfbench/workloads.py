"""The benchmark's workloads. Each drives the engine only through its
public functions: it times a cold rep, settles, times warm reps for the
run's budget, then checks its outputs outside every timed region.

- ``tier_rollup``: tier 0 and the tier cascade, no writes (kernels and
  the ``mapInPandas`` boundary). A traced run adds the storage phase:
  ``jobs/rollup_job.main`` with retention and publish, its exact resume
  from half the buckets, and a closed-loop reader over the published
  table (ledger, retention, icelite, gapfill).
- ``operator_suite``: ``__spark_entry__`` contract queries back to back.

Every failed operation or check counts toward ``Result.failed``.
"""

from __future__ import annotations

import contextlib
import importlib
import io
import json
import os
import shutil
import statistics
import sys
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import inputs, probes
from tools.paritycheck import canon

#: operator-suite queries, one metric each: every operator module
#: (rollup, pairwise, dedup, textstats, similarity, dsir, cms) and the
#: spread_rows guard in front of most of them
SUITE = ("series_motif", "acf_features", "kernel_features", "pairwise_mi",
         "minhash_check", "decontam_overlap", "cosine_topk", "hard_negatives",
         "dsir_sample", "cms_topk")
#: suite queries whose DuckDB replay takes a second or more here: a run
#: replays one of them, picked by seed (three consecutive seeds replay
#: each once), and every other query's replay in every run
COSTLY_ORACLES = ("kernel_features", "pairwise_mi", "minhash_check")
#: warm passes per suite run: each query's warm time is its median over
#: these, so one slow pass of a query does not move it
SUITE_WARM = 3
#: warm reps per tier_rollup run: the first is often still the slowest
TIER_WARM = 5
#: storage phase: resume buckets, reads per run, retention policy
BUCKETS = 8
READS = 40
RETAIN = "0:48,1:96"


class Result:
    def __init__(self):
        self.cold_s = 0.0
        self.peak_rss_bytes = 0              # process tree, set-up + reps
        self.warm: list[float] = []          # warm rep times
        self.warm_s = 0.0                    # the reported warm time
        self.traced: list[bool] = []         # per warm rep: tracer on?
        self.op_wall: dict[str, float] = {}  # timed seconds per op tag
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}    # per-layer metrics
        self.context: dict = {}


class Bench:
    """What every workload shares: session, tracer, scratch, budget."""

    def __init__(self, spark, tracer, rss, scratch, seed, seconds, trace,
                 nproc):
        self.spark = spark
        self.rss = rss
        self.tracer = tracer
        self.scratch = scratch
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.nproc = nproc
        self.res = Result()

    @contextlib.contextmanager
    def phase(self, name: str):
        """Record the wall time of a phase of the run (context only)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.res.context.setdefault("phases_s", {})[name] = round(
                time.perf_counter() - t0, 3)

    def check(self, ok: bool, what: str) -> None:
        self.res.attempted += 1
        if not ok:
            self.res.failed += 1
            print(f"CHECK FAILED: {what}", file=sys.stderr)

    def reps(self, rep, settle_max: int, min_warm: int) -> None:
        """``rep(tag)`` runs one rep (one attempted operation; one that
        raises ends the run) and returns its timed seconds. Cold
        rep; settle reps until two consecutive reps agree within 10%;
        then warm reps until ``seconds`` are spent and at least
        ``min_warm`` ran. In a traced run warm reps alternate tracer
        on/off (at least one of each), so the tracing overhead is
        measured in the same process."""
        self.tracer.op = "cold"
        self.res.cold_s = prev = rep("cold")
        self.res.attempted += 1
        for i in range(settle_max):
            self.tracer.op = f"settle{i}"
            cur = rep(f"settle{i}")
            self.res.attempted += 1
            if abs(prev - cur) <= 0.1 * cur:
                break
            prev = cur
        i = 0
        while (sum(self.res.warm) < self.seconds
               or i < max(min_warm, 1 + self.trace)):
            tag = f"warm{i}"
            on = self.trace and i % 2 == 0
            self.tracer.enabled, self.tracer.op = on, tag
            try:
                dt = rep(tag)
            finally:
                self.tracer.enabled = False
            self.res.attempted += 1
            self.res.warm.append(dt)
            self.res.traced.append(on)
            self.res.op_wall[tag] = dt
            i += 1
        self.res.warm_s = statistics.median(self.res.warm)
        # memory of the engine at work: checks run after this point
        # (a DuckDB replay in this process would otherwise set the peak)
        self.res.peak_rss_bytes = self.rss.peak

    def warm_median(self, per_rep: dict[str, float]) -> float:
        """Median over warm reps of a per-rep quantity keyed by rep tag."""
        return statistics.median(v for k, v in per_rep.items()
                                 if k.startswith("warm"))


def _tier_checksums(frames) -> dict:
    """Tier -> checksum over every column, in one Spark job."""
    from functools import reduce

    from tsf.ledger import checksum_expr
    rows = (reduce(lambda x, y: x.unionByName(y), frames).groupBy("tier")
            .agg(checksum_expr(frames[0].columns).alias("c")).collect())
    return {r["tier"]: r["c"] for r in rows}


def _same_frame(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Equal rows, columns and values; floats bit-equal with NaN==NaN,
    everything else equal as text (the tools/paritycheck.py rule)."""
    if len(a) != len(b) or list(a.columns) != list(b.columns):
        return False
    for c in a.columns:
        x, y = a[c], b[c]
        if x.dtype.kind == "f" or y.dtype.kind == "f":
            x = pd.to_numeric(x).to_numpy(dtype=float)
            y = pd.to_numeric(y).to_numpy(dtype=float)
            if not ((x == y) | (np.isnan(x) & np.isnan(y))).all():
                return False
        elif not (x.astype(str).to_numpy() == y.astype(str).to_numpy()).all():
            return False
    return True


# ----------------------------------------------------------- tier_rollup

def tier_rollup(b: Bench) -> Result:
    """Tier 0 over a parquet corpus, persisted, then ``next_tier`` x2."""
    from tsf.registry import default_rollup_features
    from tsf.rollup import next_tier, tier0
    from tsf.windows import chunk_sequences

    path = os.path.join(b.scratch, "corpus")
    meta = inputs.write_sequences(path, b.seed, n_docs=300, mean_tok=10_000,
                                  n_files=4 * b.nproc)
    b.res.context["corpus"] = {k: meta[k] for k in ("docs", "tokens")}
    seq = b.spark.read.parquet(path)
    feats = default_rollup_features()
    t_tier0, t_cascade, counts, cold_sums = {}, {}, {}, {}
    kept: list = []

    def rep(tag):
        for df in kept:
            df.unpersist()
        kept.clear()
        t0 = time.perf_counter()
        with b.tracer.span("rollup.tier0_run"):
            r0 = tier0(seq, feats).persist()
            n0 = r0.count()
        t1 = time.perf_counter()
        with b.tracer.span("rollup.next_tier_run"):
            r1 = next_tier(r0, 0, feats).persist()
            n1 = r1.count()
        with b.tracer.span("rollup.next_tier_run"):
            r2 = next_tier(r1, 1, feats).persist()
            n2 = r2.count()
        t2 = time.perf_counter()
        t_tier0[tag], t_cascade[tag] = t1 - t0, t2 - t1
        kept.extend([r0, r1, r2])
        counts[tag] = (n0, n1, n2)
        if tag == "cold":
            cold_sums.update(_tier_checksums(kept))
        return t2 - t0

    with b.phase("reps"):
        b.reps(rep, settle_max=1, min_warm=TIER_WARM)
    tier0_s = b.warm_median(t_tier0)
    n0, n1, n2 = counts["cold"]
    b.res.layer.update({
        "tier0_points_per_s": meta["tokens"] / tier0_s,
        "cascade_s": b.warm_median(t_cascade),
        "rollup.tier0_s": tier0_s,
        "rollup.next_tier_s": b.warm_median(t_cascade),
        "rollup.windows_t0": n0, "rollup.windows_t1": n1,
        "rollup.windows_t2": n2,
    })

    # every rep wrote the same rows; the last rep's equal the cold rep's
    b.res.context["tier_checksums"] = cold_sums
    b.check(len(set(counts.values())) == 1
            and _tier_checksums(kept) == cold_sums,
            f"tier counts or checksums differ across reps: {counts}")
    with b.phase("oracle_check"):
        _check_oracle(b, path, meta, kept, feats)
    for df in kept:
        df.unpersist()

    # single-thread probes of the registry/kernel/Gorilla layers, next to
    # the end-to-end tier-0 rate above
    with b.phase("probes"):
        M, n = probes.window_batch(path, 4096,
                                   np.random.default_rng(b.seed))
        b.res.layer.update(probes.kernel_probe(M, n))
    if b.trace:
        chunked = chunk_sequences(seq)
        b.res.layer["windows.chunk_sequences_s"] = min(
            probes.timed(lambda: chunked.write.format("noop").mode(
                "overwrite").save()) for _ in range(2))
        b.res.layer["windows.chunk_rows"] = chunked.count()
        with b.phase("storage"):
            storage_phase(b)
    return b.res


def _check_oracle(b: Bench, path, meta, kept, feats) -> None:
    """Tiers bit-exact against the numpy oracle on a seeded doc sample
    that includes a long-tail doc."""
    from tsf.oracle import oracle_cascade
    rng = np.random.default_rng(b.seed)
    ids = pq.read_table(path, columns=["doc_id"]).column("doc_id").to_pylist()
    regular = sorted(set(ids) - set(meta["longtail"]))
    sample = ([str(x) for x in rng.choice(regular, 4, replace=False)]
              + [str(rng.choice(meta["longtail"]))])
    pdf = pq.read_table(path, filters=[("doc_id", "in", sample)]).to_pandas()
    key = ["tier", "doc_id", "window_id"]
    want = (oracle_cascade(pdf, tiers=3, features=feats)
            .sort_values(key).reset_index(drop=True))
    got = (kept[0].unionByName(kept[1]).unionByName(kept[2])
           .where(F.col("doc_id").isin(sample)).drop("values_gorilla")
           .toPandas().sort_values(key).reset_index(drop=True))
    b.check(_same_frame(got, want[got.columns]),
            f"tier outputs differ from oracle_cascade on {sample}")


# ---------------------------------------------------------- storage phase

def _copy_partial(src_out, src_led, dst_out, dst_led, keep) -> int:
    """The state a run that died after committing buckets ``keep`` left
    behind: their data directories and ledger rows. Returns the number of
    ledger rows kept."""
    led = pq.read_table(src_led).to_pandas()
    led = led[led["partition_id"].isin(keep)]
    os.makedirs(dst_led)
    led.to_parquet(os.path.join(dst_led, "part-00000.parquet"), index=False)
    for tier_dir in os.listdir(src_out):
        if not tier_dir.startswith("tier_p="):
            continue
        for p in keep:
            rel = os.path.join(tier_dir, "batch_id=-1", f"partition_id={p}")
            if os.path.isdir(os.path.join(src_out, rel)):
                shutil.copytree(os.path.join(src_out, rel),
                                os.path.join(dst_out, rel))
    return len(led)


def _same_tier(a, b) -> bool:
    """Two rollup frames hold the same rows: equal counts and checksums
    over every feature column, and Gorilla blocks that decode to the same
    points. Block bytes themselves may differ: the encoder picks one bit
    window per group of rows it encodes together (see
    ``gorilla.compress_float_rows``), and a resumed run groups other
    rows together."""
    from tsf import gorilla
    cols = [c for c in a.columns if c != "values_gorilla"]
    if a.count() != b.count() or _tier_checksums(
            [a.select(cols)]) != _tier_checksums([b.select(cols)]):
        return False
    key = ["doc_id", "window_id"]
    x, y = (gorilla.decompress_float_rows(
        [bytes(v) for v in f.select(*key, "values_gorilla").toPandas()
         .sort_values(key)["values_gorilla"]]) for f in (a, b))
    return all(np.array_equal(p, q, equal_nan=True) for p, q in zip(x, y))


def _read_pool(rng, doc_ids, longtail) -> list[tuple]:
    """Seeded distinct read queries ``(kind, tier, doc_id)``."""
    docs = [str(d) for d in rng.choice(doc_ids, 5, replace=False)]
    pool = []
    for d in docs + [longtail[0]]:
        pool.append(("point", int(rng.integers(0, 3)), d))
        pool.append(("gapfill", int(rng.integers(0, 2)), d))
        pool.append(("retention", -1, d))
    return pool


def _run_read(frame, q) -> pd.DataFrame:
    """One read over ``frame(where)``: the icelite scan, or the unpruned
    parquet filter it must equal."""
    from tsf import gapfill, retention
    kind, tier, doc = q
    if kind == "point":
        out = frame([("tier", "==", tier), ("doc_id", "==", doc)])
    elif kind == "gapfill":
        out = gapfill.gapfill_rollup(
            frame([("tier", "==", tier), ("doc_id", "==", doc)]),
            ["mean", "std"])
    else:
        out = retention.retention_filter(frame([("doc_id", "==", doc)]),
                                         {0: 8, 1: 4})
    return out.drop("values_gorilla").toPandas()


def storage_phase(b: Bench) -> None:
    """``jobs/rollup_job.main`` on short docs with retention and publish,
    its exact resume from a ledger holding half the buckets, and a
    closed-loop reader (one client) over the published table. Traced
    runs only: its numbers are per-layer metrics."""
    from pyspark.sql.types import StructType

    from tsf import icelite
    job = importlib.import_module("jobs.rollup_job")
    path = os.path.join(b.scratch, "short")
    meta = inputs.write_sequences(path, b.seed + 1, n_docs=1500,
                                  mean_tok=1000, n_files=2 * b.nproc)
    b.res.context["storage_corpus"] = {k: meta[k] for k in ("docs", "tokens")}

    def run_job(root):
        out, led, pub = (os.path.join(root, d) for d in ("out", "led", "pub"))
        argv = ["--input", path, "--output", out, "--ledger", led,
                "--buckets", str(BUCKETS), "--retain", RETAIN,
                "--publish", pub, "--publish-buckets", str(BUCKETS)]
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(io.StringIO()):
            job.main(argv)
        return time.perf_counter() - t0, out, led, pub

    b.tracer.enabled, b.tracer.op = True, "storage"
    try:
        job_s, out, led, pub = run_job(os.path.join(b.scratch, "single"))
        rroot = os.path.join(b.scratch, "resumed")
        kept = _copy_partial(out, led, os.path.join(rroot, "out"),
                             os.path.join(rroot, "led"), range(BUCKETS // 2))
        resume_s, rout, rled, _ = run_job(rroot)
        rng = np.random.default_rng(b.seed)
        ids = pq.read_table(path, columns=["doc_id"]).column(
            "doc_id").to_pylist()
        pool = _read_pool(rng, sorted(set(ids) - set(meta["longtail"])),
                          meta["longtail"])
        lat, answers = [], []
        for qi in rng.integers(0, len(pool), READS):
            q = pool[qi]
            t0 = time.perf_counter()
            with b.tracer.span(f"reads.{q[0]}"):
                got = _run_read(lambda w: icelite.scan(b.spark, pub, w), q)
            lat.append(time.perf_counter() - t0)
            answers.append((q, got))
    finally:
        b.tracer.enabled = False
    b.res.op_wall["storage"] = job_s + resume_s + sum(lat)

    # resumed output == single-shot output, tier by tier
    for t in range(3):
        a, r = (b.spark.read.parquet(p).where(F.col("tier_p") == t)
                .drop("tier_p", "batch_id", "partition_id")
                for p in (out, rout))
        b.check(_same_tier(a, r), f"resumed tier {t} differs from single-shot")
    # every read == the unpruned parquet filter of the same snapshot
    snap = icelite._read_current(pub)
    schema = StructType.fromJson(json.loads(snap["schema"]))
    files = [os.path.join(pub, f["path"])
             for f in icelite.snapshot_files(pub, snap)]

    def unpruned(where):
        df = b.spark.read.schema(schema).parquet(*files)
        for col, _, v in where:
            df = df.where(F.col(col) == v)
        return df

    wants = {}
    for q, got in answers:
        if q not in wants:
            wants[q] = canon(_run_read(unpruned, q))
        b.check(_same_frame(canon(got), wants[q]),
                f"read {q} differs from the unpruned filter")

    planned = [len(icelite.plan_files(pub, [("tier", "==", t),
                                            ("doc_id", "==", d)],
                                      spark=b.spark))
               for kind, t, d in pool if kind == "point"]
    out_bytes = sum(os.path.getsize(os.path.join(d, f))
                    for d, _, fs in os.walk(out) for f in fs
                    if f.endswith(".parquet"))
    b.res.context["reads_timed"] = len(lat)
    b.res.layer.update({
        "job_s": job_s,
        "resume_s": resume_s,
        "read_p50_ms": 1e3 * statistics.median(lat),
        "read_p95_ms": 1e3 * float(np.percentile(lat, 95)),
        "icelite.data_files": len(files),
        "icelite.scan_files_frac": statistics.mean(planned) / len(files),
        "ledger.buckets_committed": pq.read_table(led).num_rows,
        "ledger.resume_skip_frac": kept / pq.read_table(rled).num_rows,
        "retention.rows_kept": b.spark.read.parquet(out).count(),
        "io.bytes_per_token": out_bytes / (4.0 * meta["tokens"]),
    })


# -------------------------------------------------------- operator_suite

def operator_suite(b: Bench) -> Result:
    """``__spark_entry__`` contract queries back to back over seeded
    ``documents``/``embeddings`` tables."""
    import duckdb

    entry = importlib.import_module("__spark_entry__")
    sf = os.path.join(b.scratch, "sf")
    inputs.write_operator_tables(sf, b.seed, n_docs=300, n_vecs=300)
    queries = entry.queries()
    times: dict[str, dict[str, float]] = {q: {} for q in SUITE}
    first: dict[str, pd.DataFrame] = {}
    stable = {q: True for q in SUITE}

    def rep(tag):
        got = {}
        for q in SUITE:
            t0 = time.perf_counter()
            with b.tracer.span(f"suite.{q}"):
                got[q] = queries[q](b.spark, sf).toPandas()
            times[q][tag] = time.perf_counter() - t0
        for q, df in got.items():  # every pass returns the first's rows
            if q not in first:
                first[q] = canon(df)
            else:
                stable[q] &= _same_frame(canon(df), first[q])
        return sum(t[tag] for t in times.values())

    with b.phase("reps"):
        b.reps(rep, settle_max=1, min_warm=SUITE_WARM)
    for q in SUITE:
        b.res.layer[f"suite.{q}_s"] = b.warm_median(times[q])
        b.check(stable[q], f"{q} returned different rows across passes")
    # a pass's warm time: the sum of its queries' warm medians
    b.res.warm_s = sum(b.res.layer[f"suite.{q}_s"] for q in SUITE)
    b.res.layer["suite_pass_s"] = b.res.warm_s
    b.res.context["query_reps_s"] = {
        q: {tag: round(t, 3) for tag, t in times[q].items()} for q in SUITE}

    oracles = entry.oracle_sql()
    replay = [q for q in SUITE if q not in COSTLY_ORACLES
              or q == COSTLY_ORACLES[b.seed % len(COSTLY_ORACLES)]]
    b.res.context["oracle_replayed"] = replay
    with b.phase("oracle_check"), contextlib.closing(duckdb.connect()) as con:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf}/{t}.parquet')")
        for q in replay:
            want = canon(con.execute(oracles[q]).fetchdf())
            b.check(_same_frame(first[q], want),
                    f"{q} differs from its DuckDB oracle")
    return b.res


WORKLOADS = {"tier_rollup": tier_rollup, "operator_suite": operator_suite}
