"""The tsf rollup-engine benchmark: one workload per run, in a fresh
process on ``local[nproc]``.

    python3 perfbench/run.py --workload tier_rollup --seed 1 --seconds 9 \\
        --trace 0

Run from the repository root. Workloads, metric names, units and bounds
are listed in ``BENCHMARK.json``. ``--trace 0`` times the workload with
no instrumentation and reports the end-to-end metrics; ``--trace 1``
turns on Spark's event log, records spans around the engine's public
functions, and reports the per-layer metrics: each layer's self time,
the wall time no span covers, and the tracing overhead (traced minus
untraced warm reps of the same run). Metrics of layers a workload does
not reach read 0.

Every metric is printed as ``metric <name> <value> <unit>``, the run's
host and configuration as ``context`` lines; the last line of standard
output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. A full record goes to ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = ("tsf/__init__.py", "jobs/rollup_job.py", "__spark_entry__.py",
          "bench.py", "tools/paritycheck.py")


def since_process_start() -> float:
    """Seconds since this process was created (kernel clock)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[int]:
    """Host CPU tick counters (user, nice, system, idle, iowait, irq,
    softirq, steal, ...) from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


class TreeRss(threading.Thread):
    """Samples the summed RSS of this process and all its descendants
    (the JVM and its Python workers) from /proc; keeps the peak."""

    def __init__(self, period: float = 0.1):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> int:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            kids.setdefault(ppid, []).append(int(d))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(kids.get(pid, ()))
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, ValueError, IndexError):
                pass
        return total

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, self.sample())
            self._stop_evt.wait(self.period)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return self.peak


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(scratch: str, nproc: int) -> None:
    """Environment for this process, the JVM and the Python workers it
    starts: engine importable, one BLAS thread per process (no more
    threads than nproc), temp files inside the checkout."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ.setdefault("TSF_DRIVER_MEM", "1g")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    for d in ("tmp", "local", "events"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    # every JVM spark-submit starts, its launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")


def session_conf(scratch: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(scratch, "local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(scratch, "events"),
            # Spark 4.1 defaults to zstd and rolling files; keep one
            # plain JSON file readable without extra modules
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def wrap_engine(tracer) -> None:
    """Spans around the engine's public functions, named by layer."""
    import importlib

    from tsf import gapfill, icelite, ledger, retention, rollup, session, \
        spread
    job = importlib.import_module("jobs.rollup_job")
    tracer.wrap(job, "main", "job.main")
    tracer.wrap(session, "get_spark", "session.get_spark")
    tracer.wrap(rollup, "tier0")
    tracer.wrap(rollup, "next_tier")
    tracer.wrap(ledger, "run_tier_with_ledger",
                lambda spark, df, tier, *a, **k:
                f"ledger.run_tier_with_ledger_t{tier}")
    tracer.wrap(ledger, "filter_not_done")
    tracer.wrap(ledger, "load_done")
    tracer.wrap(retention, "apply_retention")
    tracer.wrap(icelite, "create", "icelite.publish")
    tracer.wrap(icelite, "replace", "icelite.publish")
    tracer.wrap(icelite, "scan")
    tracer.wrap(icelite, "plan_files")
    tracer.wrap(gapfill, "gapfill_rollup")
    tracer.wrap(spread, "spread_rows")


#: layers whose self time a traced run reports (first part of span names)
SPAN_LAYERS = ("job", "session", "rollup", "ledger", "retention", "icelite",
               "gapfill", "reads", "spread", "suite")
#: event-log fold key -> (per-layer metric, scale)
SPARK_METRICS = {
    "python_worker_ms": ("spark.python_worker_s", 1e-3),
    "to_python_bytes": ("spark.to_python_bytes", 1),
    "from_python_bytes": ("spark.from_python_bytes", 1),
    "executor_run_ms": ("spark.executor_run_s", 1e-3),
    "executor_cpu_ns": ("spark.executor_cpu_s", 1e-9),
    "gc_ms": ("spark.gc_s", 1e-3),
    "shuffle_write_bytes": ("spark.shuffle_write_bytes", 1),
    "shuffle_read_bytes": ("spark.shuffle_read_bytes", 1),
    "fetch_wait_ms": ("spark.fetch_wait_s", 1e-3),
    "spill_bytes": ("spark.spill_bytes", 1),
    "tasks": ("spark.tasks", 1),
    "output_bytes": ("spark.output_bytes", 1),
    "output_files": ("spark.output_files", 1),
}


def trace_metrics(tracer, res, folded) -> dict[str, float]:
    """Per-layer numbers from the traced ops: averaged over the traced
    warm reps, plus the storage phase once where the workload ran it."""
    warm = [f"warm{i}" for i, on in enumerate(res.traced) if on]
    weight = {tag: 1.0 / len(warm) for tag in warm}
    if "storage" in res.op_wall:
        weight["storage"] = 1.0
    spans = tracer.op_spans(weight)
    selfs = tracer.self_times(spans)
    out: dict[str, float] = {}

    def total(pick, value=lambda s: s["end"] - s["start"]):
        return sum(value(s) * weight[s["op"]] for s in spans if pick(s))

    for layer in SPAN_LAYERS:
        out[f"self.{layer}_s"] = total(
            lambda s: s["name"].split(".", 1)[0] == layer,
            lambda s: selfs[s["id"]])
    out["trace.uncovered_s"] = sum(
        w * res.op_wall[op] for op, w in weight.items()) - total(
        lambda s: s["parent"] is None)
    on = [w for w, t in zip(res.warm, res.traced) if t]
    off = [w for w, t in zip(res.warm, res.traced) if not t]
    out["trace.overhead_s"] = statistics.median(on) - statistics.median(off)
    for name in (*(f"ledger.run_tier_with_ledger_t{t}" for t in range(3)),
                 "ledger.filter_not_done", "ledger.load_done",
                 "retention.apply_retention", "icelite.publish"):
        out[name + "_s"] = total(lambda s: s["name"] == name)
    out["spread.spread_rows_ms"] = 1e3 * total(
        lambda s: s["name"] == "spread.spread_rows")
    for name in ("icelite.plan_files", "icelite.scan",
                 "gapfill.gapfill_rollup"):
        d = [s["end"] - s["start"] for s in spans if s["name"] == name]
        out[name + "_ms"] = 1e3 * statistics.median(d) if d else 0.0
    op_of = {str(s["id"]): s["op"] for s in spans}
    for key, (name, scale) in SPARK_METRICS.items():
        out[name] = scale * sum(v.get(key, 0.0) * weight[op_of[g]]
                                for g, v in folded.items() if g in op_of)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [f for f in ENGINE if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: engine sources not found under {ROOT}: "
              f"{missing}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {names}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    scratch = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    configure_env(scratch, nproc)
    sys.path.insert(0, ROOT)
    rss = TreeRss()
    rss.start()
    ticks0 = cpu_ticks()
    spark = None
    try:
        t0 = time.perf_counter()
        from tsf.session import get_spark
        spark = get_spark(f"perfbench-{args.workload}", cores=nproc,
                          extra=session_conf(scratch, bool(args.trace)))
        get_spark_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        setup_s = since_process_start()

        import bench
        from perfbench.trace import Tracer, fold_event_log
        from perfbench.workloads import WORKLOADS, Bench
        conf = spark.sparkContext.getConf()
        context = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "nproc": nproc,
            "master": spark.sparkContext.master,
            "spark.task.cpus": conf.get("spark.task.cpus", "1"),
            "spark.driver.memory": conf.get("spark.driver.memory"),
            "TSF_DRIVER_MEM": os.environ["TSF_DRIVER_MEM"],
            "host_before": bench.host_calibration(),
        }
        tracer = Tracer(spark.sparkContext)
        if args.trace:
            wrap_engine(tracer)
        res = WORKLOADS[args.workload](Bench(
            spark, tracer, rss, scratch, args.seed, args.seconds,
            bool(args.trace), nproc))
        context["host_after"] = bench.host_calibration()
        context.update(res.context)
        tracer.unwrap_all()
        spark.stop()
        spark = None
        stop_jvm()
        rss.stop()
        measured = {
            "setup_s": setup_s, "cold_s": res.cold_s,
            "warm_s": res.warm_s,
            "peak_rss_mb": res.peak_rss_bytes / 2**20,
            "session.get_spark_s": get_spark_s,
            "fail_frac": res.failed / max(1, res.attempted),
            **res.layer,
        }
        if args.trace:  # the event log is complete once the JVM ended
            measured.update(trace_metrics(
                tracer, res, fold_event_log(os.path.join(scratch, "events"))))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        if rss.is_alive():
            rss.stop()
        shutil.rmtree(scratch, ignore_errors=True)

    context["run_wall_s"] = since_process_start()
    ticks = [after - before for before, after in zip(ticks0, cpu_ticks())]
    context["cpu_busy_frac"] = 1 - (ticks[3] + ticks[4]) / sum(ticks)
    context["cpu_steal_frac"] = ticks[7] / sum(ticks)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    report = {m["name"]: {"value": float(measured.get(m["name"], 0.0)),
                          "unit": m["unit"]} for m in wanted}
    for k, v in context.items():
        print(f"context {k} {json.dumps(v)}")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]
             + spec["per_layer"]}
    for k, v in sorted(measured.items()):
        print(f"metric {k} {v} {units.get(k, '')}")
    out = {"correct": res.failed == 0, "attempted": res.attempted,
           "failed": res.failed, "metrics": report}
    os.makedirs(os.path.join(ROOT, ".perfbench", "results"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench", "results",
                           f"{args.workload}-s{args.seed}-t{args.trace}"
                           f".json"), "w") as fh:
        json.dump({**out, "context": context, "all_metrics": measured,
                   "warm_reps_s": res.warm}, fh, indent=1)
    print(json.dumps(out))
    return 0


def stop_jvm() -> None:
    """End the JVM pyspark launched and wait for it, so the run leaves
    no process behind."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
