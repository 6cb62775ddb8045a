"""``incremental`` workload: backfill a history, then refresh it day by day.

Set-up lands ``history_days`` of raw turns in a fresh
:class:`~tsdat_spark.io.snapshots.SnapshotTable` and runs the batch path
over them once (op ``b``: ``run_ingest`` → ``run_rollup_job`` →
``encode_cold_blocks``), the first op of a fresh session, then warms the
dashboard reads once. Each refresh op then, in one closed loop with one
client:

1. appends one new day plus the late tail of the previous day;
2. re-ingests every touched day in full from the current snapshot
   (``run_ingest`` replaces whole day partitions, so ingesting only the
   delta would drop that day's earlier rows);
3. runs ``run_rollup_job`` over the whole std table (1m/1h/1d), which
   fingerprints every day and rebuilds only the touched ones;
4. issues the dashboard reads: ``tier_summary`` over the last 7 days of
   ``tier_1h`` and ``bin_average`` of the newest day's 1m tier onto a
   15-minute grid;
5. re-encodes the touched days' cold blocks.

Every op's output is checked with DuckDB, outside the timed region.
"""

from __future__ import annotations

import glob
import os
import statistics
import sys
import time

from inputs import PIPELINE, day_str, write_transcript_days
from spans import span_counters

TIERS = ("1m", "1h", "1d")
RAW_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
# spans of a refresh op; the three marked heavy also report gc/spill/peak memory
REFRESH_SPANS = (
    "append", "ingest.write_tier", "ingest.manifests", "ingest.self",
    "rollup.fingerprint", "rollup.write_1m", "rollup.write_1h", "rollup.write_1d",
    "rollup.self", "cold.encode", "read.summary", "read.series",
)
HEAVY_SPANS = ("ingest.write_tier", "rollup.write_1m", "cold.encode")
BACKFILL_LAYERS = ("append", "ingest", "rollup", "cold.encode")
TABLES = ("std", "tier_1m", "tier_1h", "tier_1d", "cold")


def _managers():
    from pyspark.sql import functions as F

    from tsdat_spark.qc import QualityManager, check_missing, check_monotonic

    return [
        QualityManager("missing_text", lambda d, c, v, s: check_missing(F.col(v), kind="string"),
                       ["text"], handlers=[("record", "Bad")]),
        QualityManager("monotonic_ts", lambda d, c, v, s: check_monotonic(c, F.col(v), "increasing"),
                       ["ts"], handlers=[("record", "Bad")]),
    ]


class Store:
    """Paths of one run's tables, and DuckDB views over their parquet."""

    def __init__(self, root: str, con):
        self.raw = f"{root}/raw_table"
        self.std = f"{root}/std"
        self.tiers = f"{root}/tiers"
        self.cold = f"{root}/cold"
        self.con = con

    def path(self, table: str) -> str:
        return {"std": self.std, "cold": self.cold}.get(table, f"{self.tiers}/{table}")

    def files(self, table: str) -> list[str]:
        return sorted(glob.glob(f"{self.path(table)}/*/*.parquet"))

    def scan(self, table: str) -> str:
        return f"read_parquet({self.files(table)!r}, hive_partitioning = true)"

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()


def check_op(store: Store, snapshot_files: list[str], rr, touched: list[str]) -> list[str]:
    """Independent DuckDB checks of one op's outputs; returns mismatches."""
    bad = []
    std_days = {d: (n, tok) for d, n, tok in store.rows(
        f"select cast(ts as date)::varchar, count(*), coalesce(sum(token_len), 0) "
        f"from {store.scan('std')} group by 1")}
    # ingest: one std row per distinct (conv_id, turn_idx) of the snapshot
    raw_days = dict(store.rows(
        f"select cast(ts as date)::varchar, count(distinct (conv_id, turn_idx)) "
        f"from read_parquet({snapshot_files!r}) group by 1"))
    if {d: v[0] for d, v in std_days.items()} != raw_days:
        bad.append("std rows per day differ from the snapshot's distinct turns")
    if sorted(rr.written_days) != sorted(touched):
        bad.append(f"written_days {rr.written_days} != touched {touched}")
    if sorted(rr.skipped_days) != sorted(set(std_days) - set(touched)):
        bad.append(f"skipped_days {rr.skipped_days} are not the untouched days")
    for tier in TIERS:
        got = {d: (n, tok) for d, n, tok in store.rows(
            f"select cast(bin_start as date)::varchar, sum(n_turns), sum(token_len_sum) "
            f"from {store.scan('tier_' + tier)} group by 1")}
        if got != std_days:
            bad.append(f"tier_{tier} per-day n_turns/token_len_sum differ from std")
    cold = dict(store.rows(f"select p_date::varchar, sum(n_points) from {store.scan('cold')} group by 1"))
    if cold != {d: v[0] for d, v in std_days.items()}:
        bad.append("cold n_points per day differ from std rows")
    return bad


def stored(store: Store) -> dict[str, float]:
    """Rows, parquet data MB and file counts of the stored tables (JSON
    manifests, which carry wall-clock ``written_at``, are not counted)."""
    out = {}
    for t in TABLES:
        files = store.files(t)
        out[f"{t}.mb"] = sum(os.path.getsize(f) for f in files) / 1e6
        out[f"{t}.files"] = len(files)
        col = "sum(n_points)" if t == "cold" else "count(*)"
        out[f"{t}.rows"] = store.rows(f"select {col} from {store.scan(t)}")[0][0]
    return out


class Incremental:
    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.scale = PIPELINE[ctx.scale]
        self.store = Store(ctx.work, ctx.duck)
        self.ops: list[dict] = []

    # ------------------------------------------------------------ layers
    def _delta(self, day: int, backfill: bool):
        from pyspark.sql import functions as F

        d, late = F.col("day"), F.col("late")
        if backfill:  # every day up to ``day``, less the late tail of ``day``
            rows = (d < day) | ((d == day) & ~late)
        else:  # ``day`` on time, plus the late tail of the day before
            rows = ((d == day) & ~late) | ((d == day - 1) & late)
        return self.raw.where(rows).select(*RAW_COLS)

    def _ingest(self, op: str, touched: list[str] | None):
        from pyspark.sql import functions as F

        from tsdat_spark.config import transcripts_spec
        from tsdat_spark.pipeline import run_ingest
        from tsdat_spark.qc import QCContext

        with self.tracer.span(op, "ingest"):
            snap = self.table.read(self.spark)
            if touched is not None:
                snap = snap.where(F.to_date("ts").cast("string").isin(touched))
            ctx = QCContext(series_keys=("conv_id",), order_cols=("turn_idx", "ts"))
            run_ingest(snap, transcripts_spec(), ctx, _managers(),
                       dedup_keys=["conv_id", "turn_idx"], table_path=self.store.std)

    def _rollup(self, op: str):
        from tsdat_spark.io.writers import read_tier
        from tsdat_spark.pipeline import run_rollup_job

        with self.tracer.span(op, "rollup"):
            return run_rollup_job(read_tier(self.spark, self.store.std), self.store.tiers)

    def _cold(self, op: str, touched: list[str] | None):
        from pyspark.sql import functions as F

        from tsdat_spark.io.coldstore import encode_cold_blocks
        from tsdat_spark.io.writers import PARTITION_COL, read_tier

        with self.tracer.span(op, "cold.encode"):
            std = read_tier(self.spark, self.store.std)
            if touched is not None:
                std = std.where(F.col(PARTITION_COL).cast("string").isin(touched))
            blocks = encode_cold_blocks(std.withColumn("v", F.col("latency_us").cast("double")),
                                        ["conv_id"], "ts", "v")
            (blocks.write.partitionBy(PARTITION_COL).mode("overwrite")
             .option("partitionOverwriteMode", "dynamic").parquet(self.store.cold))

    def _reads(self, op: str, day: int) -> tuple[list[str], list[float]]:
        from tsdat_spark.io.writers import read_tier
        from tsdat_spark.rollup import tier_summary
        from tsdat_spark.transform.bin_average import bin_average
        from tsdat_spark.transform.grid import GridSpec

        bad = []
        lo = day_str(max(day - 6, 0))
        with self.tracer.span(op, "read.summary"):
            t = time.perf_counter()
            summary = tier_summary(read_tier(self.spark, f"{self.store.tiers}/tier_1h", lo, day_str(day))).collect()
            t_summary = time.perf_counter() - t
        with self.tracer.span(op, "read.series"):
            t = time.perf_counter()
            grid = GridSpec(f"{day_str(day)}T00:00:00", f"{day_str(day + 1)}T00:00:00", interval_s=900)
            series = bin_average(read_tier(self.spark, f"{self.store.tiers}/tier_1m", day_str(day), day_str(day)),
                                 grid, series_keys=["role"], ts_col="bin_start",
                                 value_cols=["token_len_sum"]).collect()
            t_series = time.perf_counter() - t
        want = self.store.rows(
            f"select sum(n_turns) from {self.store.scan('tier_1h')} "
            f"where cast(bin_start as date) between '{lo}' and '{day_str(day)}'")[0][0]
        if sum(r["n_turns"] for r in summary) != want:
            bad.append("tier_summary n_turns differ from tier_1h")
        n_roles = self.store.rows(
            f"select count(distinct role) from {self.store.scan('tier_1m')} "
            f"where cast(bin_start as date) = '{day_str(day)}'")[0][0]
        if len(series) != 96 * n_roles:
            bad.append(f"bin_average returned {len(series)} rows, want {96 * n_roles}")
        return bad, [t_summary, t_series]

    # ------------------------------------------------------------ ops
    def _op(self, op: str, day: int) -> dict:
        """One op; returns its timings and check result."""
        backfill = op == "b"
        touched = None if backfill else [day_str(day - 1), day_str(day)]
        t0 = time.perf_counter()
        with self.tracer.span(op, "append"):
            snap = self.table.append(self._delta(day, backfill))
        self._ingest(op, touched)
        rr = self._rollup(op)
        fresh = time.perf_counter() - t0
        bad, reads = ([], []) if backfill else self._reads(op, day)
        self._cold(op, touched)
        wall = time.perf_counter() - t0
        want = [day_str(d) for d in range(day + 1)] if backfill else touched
        with self.ctx.phase("checks"):
            bad += check_op(self.store, self.table.files(snap), rr, want)
        return {"op": op, "day": day, "wall_s": wall, "fresh_s": fresh, "read_s": reads,
                "turns_added": snap.n_rows_added, "bad": bad}

    def _warmup_reads(self, op: str, day: int) -> dict:
        t0 = time.perf_counter()
        bad, _ = self._reads(op, day)
        return {"op": op, "day": day, "wall_s": time.perf_counter() - t0, "bad": bad}

    def _attempt(self, run_op, op: str, day: int) -> None:
        try:
            rec = run_op(op, day)
        except Exception as exc:  # a failed op counts against attempted
            self.ctx.log_failure(f"op {op} (day {day})", exc)
            rec = {"op": op, "day": day, "bad": [f"raised {type(exc).__name__}: {exc}"]}
        for msg in rec["bad"]:
            print(f"FAILED op {op} (day {day}): {msg}", file=sys.stderr)
        self.ops.append(rec)

    def setup(self) -> None:
        """Inputs, the history backfill (op ``b``) and one round of dashboard
        reads over it (op ``w``), so that no timed op is the first to run a
        read plan."""
        from tsdat_spark.io.snapshots import SnapshotTable

        raw_dir = f"{self.ctx.work}/input"
        with self.ctx.phase("inputs"):
            write_transcript_days(self.spark, raw_dir, self.ctx.seed, self.scale)
        self.raw = self.spark.read.parquet(raw_dir)
        self.table = SnapshotTable(self.store.raw)
        last = self.scale.history_days - 1
        with self.tracer.rebind_pipeline():
            self._attempt(self._op, "b", last)
        self._attempt(self._warmup_reads, "w", last)

    def measure(self, seconds: float, min_ops: int) -> None:
        first = self.scale.history_days
        t0 = time.perf_counter()
        with self.tracer.rebind_pipeline():
            for i in range(self.scale.max_appends):
                if i >= min_ops and time.perf_counter() - t0 >= seconds:
                    break
                self._attempt(self._op, f"t{i}", first + i)
                if i == 0:
                    self.first_stored = stored(self.store)

    # ------------------------------------------------------------ results
    def counts(self) -> tuple[int, int]:
        return len(self.ops), sum(1 for r in self.ops if r["bad"])

    def timed(self) -> list[dict]:
        return [r for r in self.ops if r["op"].startswith("t") and "wall_s" in r]

    def end_to_end(self) -> dict[str, float]:
        return {"op_p50_s": statistics.median(r["wall_s"] for r in self.timed()),
                "first_op_s": self.ops[0]["wall_s"]}

    def report(self) -> dict[str, float]:
        """The workload's own figures, beside the contract metrics."""
        timed, backfill, last = self.timed(), self.ops[0], stored(self.store)
        return {
            "fresh_p50_s": statistics.median(r["fresh_s"] for r in timed),
            "read_p50_ms": 1e3 * statistics.median(t for r in timed for t in r["read_s"]),
            "backfill_turns_per_s": backfill["turns_added"] / backfill["wall_s"],
            "refresh_turns_per_s": statistics.median(r["turns_added"] / r["wall_s"] for r in timed),
            "stored_bytes_per_turn": 1e6 * sum(last[f"{t}.mb"] for t in TABLES) / last["std.rows"],
            "timed_refreshes": len(timed),
        }

    def layers(self, tracer, log) -> dict[str, float]:
        """Per-layer metrics of the traced run: span counters as medians
        over the timed refreshes, except counts (``stages`` and the table
        state), which come from the first timed refresh and repeat exactly."""
        ops = [r["op"] for r in self.timed()]
        out = {}
        for span in REFRESH_SPANS:
            base = span[:-len(".self")] if span.endswith(".self") else span
            per_op = [span_counters(tracer, log, op, base) for op in ops]
            counters = ["wall_s", "task_s", "py_s", "shuffle_mb"]
            if span in HEAVY_SPANS:
                counters += ["gc_s", "spill_mb", "peak_mem_mb"]
            for c in counters:
                out[f"{span}.{c}"] = statistics.median(p[c] for p in per_op)
            out[f"{span}.stages"] = per_op[0]["stages"]
        out["rollup.fingerprint.input_rows"] = span_counters(tracer, log, ops[0], "rollup.fingerprint")["input_rows"]
        for layer in BACKFILL_LAYERS:
            c = span_counters(tracer, log, "b", layer, prefix=True)
            out[f"backfill.{layer}.wall_s"] = c["wall_s"]
            out[f"backfill.{layer}.task_s"] = c["task_s"]
        first = self.first_stored
        for t in TABLES:
            out[f"{t}.mb"] = first[f"{t}.mb"]
        out.update({"std.rows": first["std.rows"], "cold.points": first["cold.rows"],
                    "tier.files": sum(first[f"tier_{t}.files"] for t in TIERS)})
        for t in TIERS:
            out[f"tier_{t}.rows"] = first[f"tier_{t}.rows"]
        return out
