"""Benchmark of tsdat_spark through its public entry points.

Usage (from the repository root)::

    python3 perfbench/run.py --workload incremental --seed 1 --seconds 10 --trace 0

Workloads (see ``perfbench/README.md`` for why each is here):

- ``incremental``: set-up backfills a history through ``SnapshotTable``,
  ``run_ingest``, ``run_rollup_job`` and ``encode_cold_blocks``; each timed
  op appends a day, re-ingests the touched days, refreshes the tiers, reads
  them and re-encodes cold blocks;
- ``corpus``: passes over the dedup/ANN operators of
  ``__spark_entry__.queries()``.

One client per workload, closed loop, on ``local[<cores>]`` with as many
shuffle partitions and a pinned driver heap. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` turns on Spark's event log, records
spans around each layer call and prints the per-layer metrics. Every op's
output is checked; the last stdout line is the JSON result, and the exit
code is non-zero when any check failed. Each run leaves a record (metrics,
effective Spark conf, host probe, spans) under ``perfbench/.work/runs``.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
DRIVER_MEM = "2g"
WORKLOADS = ("incremental", "corpus")
END_TO_END = {"setup_s": "s", "op_p50_s": "s", "first_op_s": "s", "peak_rss_mb": "MB"}


def _process_age_s() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric; a workload reports 0 for layers it bypasses."""
    from corpus import QUERIES
    from incremental import BACKFILL_LAYERS, HEAVY_SPANS, REFRESH_SPANS, TABLES, TIERS

    unit = {"wall_s": "s", "task_s": "s", "py_s": "s", "gc_s": "s", "shuffle_mb": "MB",
            "spill_mb": "MB", "peak_mem_mb": "MB", "stages": "count"}
    out = {}
    for span in REFRESH_SPANS:
        counters = ["wall_s", "task_s", "py_s", "shuffle_mb", "stages"]
        if span in HEAVY_SPANS:
            counters += ["gc_s", "spill_mb", "peak_mem_mb"]
        out.update({f"{span}.{c}": unit[c] for c in counters})
    out["rollup.fingerprint.input_rows"] = "count"
    for layer in BACKFILL_LAYERS:
        out.update({f"backfill.{layer}.wall_s": "s", f"backfill.{layer}.task_s": "s"})
    out.update({f"{t}.mb": "MB" for t in TABLES})
    out.update({f"tier_{t}.rows": "count" for t in TIERS})
    out.update({"std.rows": "count", "cold.points": "count", "tier.files": "count"})
    for q in QUERIES:
        out.update({f"{q}.wall_s": "s", f"{q}.shuffle_mb": "MB", f"{q}.stages": "count"})
    out["trace.overhead_pct"] = "%"
    return out


class Context:
    """What a workload needs from the harness."""

    def __init__(self, args, spark, tracer, duck, work):
        self.spark, self.tracer, self.duck, self.work = spark, tracer, duck, work
        self.seed, self.scale = args.seed, args.scale
        self.phases: dict[str, float] = {}  # seconds per named phase, summed

    @contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0

    def log_failure(self, what: str, exc: BaseException) -> None:
        print(f"FAILED {what}", file=sys.stderr)
        traceback.print_exception(exc, file=sys.stderr)


def _pin_environment(work: str) -> None:
    """Workers import the checkout's library; temp files stay in the run dir."""
    for d in ("tmp", "local"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TSDAT_SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    # every JVM, the spark-submit launcher included, keeps its files here too
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"


def _session(work: str, app: str, traced: bool):
    from spans import event_log_conf

    from tsdat_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # the heap is pinned (-Xms = -Xmx), so JVM RSS does not follow G1's resizing
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        os.makedirs(f"{work}/eventlog", exist_ok=True)
        conf.update(event_log_conf(f"{work}/eventlog"))
    return get_spark(app_name=app, cores=cores, shuffle_partitions=cores, extra_conf=conf)


def _host_probe_s() -> float:
    """The 10M-double sort ``bench.py`` uses to record host speed; recorded
    per run, never used to drop one."""
    import numpy as np

    t0 = time.perf_counter()
    np.sort(np.random.default_rng(0).random(10_000_000))
    return time.perf_counter() - t0


def _records(workload: str, scale: str, trace: int) -> list[dict]:
    out = []
    for path in glob.glob(f"{BENCH_DIR}/.work/runs/*.json"):
        with open(path) as f:
            r = json.load(f)
        if (r["args"]["workload"], r["args"]["scale"], r["args"]["trace"]) == (workload, scale, trace) \
                and r["correct"]:
            out.append(r)
    return out


def _untraced_reference(args) -> float:
    """Median untraced ``op_p50_s`` of this workload in this checkout; when
    there is none yet, one untraced run is made first, in a child process."""
    refs = _records(args.workload, args.scale, 0)
    if not refs:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
               "--scale", args.scale]
        subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
        refs = _records(args.workload, args.scale, 0)
    return statistics.median(r["internal"]["op_p50_s"] for r in refs)


def run(args) -> dict:
    t_start = time.perf_counter() - _process_age_s()
    traced = bool(args.trace)
    reference = _untraced_reference(args) if traced else None
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = f"{BENCH_DIR}/.work/{tag}"
    _pin_environment(work)
    sys.path.insert(0, ROOT)

    import duckdb

    from corpus import Corpus
    from incremental import Incremental
    from procmem import PeakRSS
    from spans import Tracer

    duck = duckdb.connect(config={"threads": len(os.sched_getaffinity(0)), "temp_directory": f"{work}/tmp"})
    try:
        with PeakRSS() as rss:
            t0 = time.perf_counter()
            spark = _session(work, f"perfbench-{tag}", traced)
            try:
                tracer = Tracer(spark, traced)
                ctx = Context(args, spark, tracer, duck, work)
                ctx.phases["session_start"] = time.perf_counter() - t0
                wl = {"incremental": Incremental, "corpus": Corpus}[args.workload](ctx)
                wl.setup()
                setup_s = time.perf_counter() - t_start
                wl.measure(args.seconds, min_ops=1)
            finally:
                rss_mb = rss.peak_mb
                probe_s = _host_probe_s()
                conf = dict(sorted(spark.sparkContext.getConf().getAll()))
                _stop(spark)
        record = _record(args, wl, ctx, tracer, work, reference, conf, probe_s,
                         {"setup_s": setup_s, "peak_rss_mb": rss_mb, **wl.end_to_end()})
    finally:
        duck.close()
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{BENCH_DIR}/.work/runs", exist_ok=True)
    with open(f"{BENCH_DIR}/.work/runs/{tag}.json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    return record


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def _record(args, wl, ctx, tracer, work, reference, conf, probe_s, internal) -> dict:
    from spans import parse_event_log

    attempted, failed = wl.counts()
    correct = failed == 0 and all(math.isfinite(v) and v > 0 for v in internal.values())
    record = {"args": vars(args), "correct": correct, "attempted": attempted, "failed": failed,
              "internal": internal, "report": wl.report(), "phases": ctx.phases, "spark_conf": conf,
              "host_probe_sort10m_s": probe_s}
    if args.trace:
        logs = glob.glob(f"{work}/eventlog/*")
        layers = wl.layers(tracer, parse_event_log(logs[0]))
        layers["trace.overhead_pct"] = 100.0 * (internal["op_p50_s"] / reference - 1.0)
        units = per_layer_units()
        record["layers"] = {n: layers.get(n, 0) for n in units}
        record["spans"] = tracer.spans
        record["metrics"] = {n: {"value": record["layers"][n], "unit": u} for n, u in units.items()}
    else:
        record["metrics"] = {n: {"value": internal[n], "unit": u} for n, u in END_TO_END.items()}
    return record


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "smoke"), default="full")
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "tsdat_spark")):
        print(f"perfbench: no tsdat_spark package next to {BENCH_DIR}", file=sys.stderr)
        return 2
    r = run(args)
    for k, v in r["report"].items():
        print(f"{args.workload} {k} = {v}")
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": r["metrics"]}))
    return 0 if r["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
