"""Spans around layer calls, credited with Spark's own task metrics.

Only the traced run (``--trace 1``) records spans. Each span instance runs
under its own ``spark.job.description`` (``"<op>|<span>"``), so every
stage Spark launches inside it carries that label in the event log. After
the session stops, :func:`parse_event_log` folds the log's task-end
records into per-(op, span) counters. Spans live in memory until the run
ends and are kept in the run record.

The layer calls that ``tsdat_spark.pipeline`` makes internally are reached
by rebinding four of its module-level names to timing wrappers for the
duration of the traced run (:meth:`Tracer.rebind_pipeline`); no library
file changes.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

PIPELINE_NAMES = ("write_tier", "partition_manifests", "write_manifests", "completed_partitions")

# event-log task metrics → counter name and scale
_SECONDS = 1e-3
_MB = 1e-6
PY_RUN_METRIC = "time to run Python workers"  # SQL metric on Arrow/pandas nodes, ms


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf for the traced run: one plain JSON-lines log file."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    """In-memory spans; a disabled tracer makes every call a no-op."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[tuple[str, str]] = []

    @contextmanager
    def _open(self, op: str, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append((op, name))
        self.sc.setJobDescription(f"{op}|{name}")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(f"{parent[0]}|{parent[1]}" if parent else None)
            self.spans.append({"op": op, "name": name, "start": t0, "end": t1,
                               "parent": parent[1] if parent else None})

    def span(self, op: str, name: str):
        return self._open(op, name) if self.enabled else nullcontext()

    def _child_name(self, fn_name: str, args: tuple) -> str | None:
        """Span name for a call ``tsdat_spark.pipeline`` makes inside the
        ``ingest`` or ``rollup`` span; tier writes are told apart by path."""
        if not self._stack:
            return None
        parent = self._stack[-1][1]
        if parent == "ingest":
            return "ingest.write_tier" if fn_name == "write_tier" else "ingest.manifests"
        if parent == "rollup":
            if fn_name in ("write_tier", "write_manifests"):
                path = args[1] if fn_name == "write_tier" else args[0]
                return f"rollup.write_{str(path).rsplit('tier_', 1)[1]}"
            return "rollup.fingerprint"
        return None

    @contextmanager
    def rebind_pipeline(self):
        """Wrap the layer calls ``tsdat_spark.pipeline`` makes internally
        (traced run only; the originals are restored on exit)."""
        if not self.enabled:
            yield
            return
        import tsdat_spark.pipeline as pl

        originals = {n: getattr(pl, n) for n in PIPELINE_NAMES}

        def wrap(fn_name, fn):
            @functools.wraps(fn)
            def traced(*args, **kwargs):
                name = self._child_name(fn_name, args)
                if name is None:
                    return fn(*args, **kwargs)
                with self._open(self._stack[-1][0], name):
                    return fn(*args, **kwargs)
            return traced

        for n, fn in originals.items():
            setattr(pl, n, wrap(n, fn))
        try:
            yield
        finally:
            for n, fn in originals.items():
                setattr(pl, n, fn)

    def walls(self) -> dict[tuple[str, str], float]:
        """Summed wall seconds per (op, span); a name may open twice in an op."""
        out: dict[tuple[str, str], float] = defaultdict(float)
        for s in self.spans:
            out[(s["op"], s["name"])] += s["end"] - s["start"]
        return out


def _new_counters() -> dict[str, float]:
    return {"task_s": 0.0, "py_s": 0.0, "gc_s": 0.0, "shuffle_mb": 0.0,
            "spill_mb": 0.0, "peak_mem_mb": 0.0, "input_rows": 0, "stages": 0}


def parse_event_log(path: str) -> dict[tuple[str, str], dict[str, float]]:
    """Per-(op, span) counters from a finished Spark event log.

    A stage is credited to the description its job ran under (the
    ``Properties`` of ``StageSubmitted``); ``stages`` counts stages that
    ran, so stages reused from an earlier shuffle are not counted twice.
    """
    stage_span: dict[tuple[int, int], tuple[str, str]] = {}
    out: dict[tuple[str, str], dict[str, float]] = defaultdict(_new_counters)
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerStageSubmitted":
                desc = (e.get("Properties") or {}).get("spark.job.description") or ""
                if "|" in desc:
                    info = e["Stage Info"]
                    stage_span[(info["Stage ID"], info["Stage Attempt ID"])] = tuple(desc.split("|", 1))
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                key = stage_span.get((info["Stage ID"], info["Stage Attempt ID"]))
                if key is not None:
                    out[key]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                key = stage_span.get((e["Stage ID"], e["Stage Attempt ID"]))
                m = e.get("Task Metrics")
                if key is None or m is None:
                    continue
                c = out[key]
                c["task_s"] += m["Executor Run Time"] * _SECONDS
                c["gc_s"] += m["JVM GC Time"] * _SECONDS
                c["shuffle_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] * _MB
                c["spill_mb"] += m["Disk Bytes Spilled"] * _MB
                c["peak_mem_mb"] = max(c["peak_mem_mb"], m["Peak Execution Memory"] * _MB)
                c["input_rows"] += m["Input Metrics"]["Records Read"]
                for acc in e["Task Info"].get("Accumulables", []):
                    if acc.get("Name") == PY_RUN_METRIC:
                        c["py_s"] += float(acc.get("Update", 0)) * _SECONDS
    return out


def span_counters(tracer: Tracer, log: dict, op: str, span: str, prefix: bool = False) -> dict[str, float]:
    """Wall time plus event-log counters of one span in one op.

    With ``prefix`` the span's children (``span.*``) are folded in, giving
    the whole layer; without it, a parent span's wall is its self time."""
    walls = tracer.walls()
    c = _new_counters()
    picked = [k for k in set(log) | set(walls)
              if k[0] == op and (k[1] == span or (prefix and k[1].startswith(span + ".")))]
    for k in picked:
        for name, v in log.get(k, {}).items():
            c[name] = max(c[name], v) if name == "peak_mem_mb" else c[name] + v
    if prefix:
        c["wall_s"] = walls.get((op, span), 0.0)
    else:
        children = sum(w for (o, n), w in walls.items() if o == op and n.startswith(span + "."))
        c["wall_s"] = walls.get((op, span), 0.0) - children
    return c
