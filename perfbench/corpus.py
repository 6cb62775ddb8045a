"""``corpus`` workload: the dedup/ANN operator family, no rollup code.

Inputs are a generated ``documents``/``embeddings`` corpus (see
:mod:`inputs`). One client runs the set of queries below in passes, in a
closed loop:

- the first pass, in the fresh session, collects each result to the driver
  and checks it against the query's ``oracle_sql()`` on DuckDB (the check
  runs after the query's timer stops);
- every later pass writes each query to a noop sink, until ``--seconds``
  have passed.
"""

from __future__ import annotations

import statistics
import time

from inputs import CORPUS, write_corpus
from spans import span_counters

QUERIES = (
    "jaccard_pairs", "lsh_pairs", "ann_lsh", "ann_lsh_multi", "ivf_search",
    "dedup_clusters", "substring_dedup", "line_dedup", "contamination_overlap",
    "lm_perplexity", "bloom_dedup",
)


class Corpus:
    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.dir = f"{ctx.work}/corpus"
        self.passes: list[dict[str, float]] = []  # query -> seconds; pass 0 is the first
        self.attempted = self.failed = 0

    def setup(self) -> None:
        import __spark_entry__ as entry

        with self.ctx.phase("inputs"):
            write_corpus(self.dir, self.ctx.seed, CORPUS[self.ctx.scale])
        for t in ("documents", "embeddings"):
            self.ctx.duck.execute(f"create view {t} as select * from '{self.dir}/{t}.parquet'")
        self.queries, self.oracles = entry.queries(), entry.oracle_sql()
        self._pass(first=True)

    def _run(self, op: str, name: str, first: bool):
        with self.tracer.span(op, name):
            t0 = time.perf_counter()
            # building the plan is timed too: some operators run eager jobs
            df = self.queries[name](self.spark, self.dir)
            if first:
                got = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
                got = None
            return time.perf_counter() - t0, got

    def _pass(self, first: bool = False) -> None:
        from scripts.check_oracles import compare

        op = f"p{len(self.passes)}"
        times = {}
        for name in QUERIES:
            self.attempted += 1
            try:
                times[name], got = self._run(op, name, first)
                if first:
                    with self.ctx.phase("checks"):
                        issues = compare(name, got, self.ctx.duck.execute(self.oracles[name]).df())
                        if issues:
                            raise AssertionError(f"{name} differs from its oracle: {issues}")
            except Exception as exc:  # a failed query counts against attempted
                self.failed += 1
                self.ctx.log_failure(f"{op} {name}", exc)
        self.passes.append(times)

    def measure(self, seconds: float, min_ops: int) -> None:
        t0 = time.perf_counter()
        while len(self.passes) - 1 < min_ops or time.perf_counter() - t0 < seconds:
            self._pass()

    # ------------------------------------------------------------ results
    def counts(self) -> tuple[int, int]:
        return self.attempted, self.failed

    def warm(self) -> list[dict[str, float]]:
        return [p for p in self.passes[1:] if len(p) == len(QUERIES)]

    def end_to_end(self) -> dict[str, float]:
        return {"op_p50_s": statistics.median(sum(p.values()) for p in self.warm()),
                "first_op_s": sum(self.passes[0].values())}

    def report(self) -> dict[str, float]:
        warm = self.warm()
        return {
            "suite_s": sum(statistics.median(p[q] for p in warm) for q in QUERIES),
            "first_pass_s": sum(self.passes[0].values()),
            "warm_passes": len(warm),
        }

    def layers(self, tracer, log) -> dict[str, float]:
        """``<query>.wall_s`` is the median warm time; ``shuffle_mb`` and
        ``stages`` come from the first warm pass and repeat exactly."""
        out = {}
        for q in QUERIES:
            out[f"{q}.wall_s"] = statistics.median(p[q] for p in self.warm())
            first_warm = span_counters(tracer, log, "p1", q)
            out[f"{q}.shuffle_mb"] = first_warm["shuffle_mb"]
            out[f"{q}.stages"] = first_warm["stages"]
        return out
