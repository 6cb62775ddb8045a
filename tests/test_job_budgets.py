"""Job-count budgets for the refresh path.

Every Spark job costs a fixed slice of driver and scheduling time, however
little data it touches, so a refresh that launches bookkeeping jobs (a
recount of a table it just wrote, a schema-inference read of a table whose
schema it wrote, a second run of the standardize/QC plan for lineage)
gets slower without any value-level test noticing. The counts below are
pinned for a fixed fixture and session config (``conftest.py``); a change
that adds a job fails here and has to justify the new budget.

Jobs are counted through the status tracker's job groups, which include
the map-stage jobs adaptive execution submits.
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from tsdat_spark.config import transcripts_spec
from tsdat_spark.io.snapshots import SnapshotTable
from tsdat_spark.io.writers import read_tier, write_tier
from tsdat_spark.pipeline import run_ingest, run_rollup_job
from tsdat_spark.qc import QCContext, QualityManager, check_missing
from tsdat_spark.synth import SynthSpec, generate_transcripts

# one run_ingest + run_rollup_job refresh of the 2-day fixture below: the
# ingest write and the manifest aggregation over the committed days, the
# rollup's input fingerprint and one write per tier, each with the
# map-stage jobs adaptive execution submits for its shuffles
REFRESH_JOB_BUDGET = 13

_group_seq = itertools.count()


def _jobs(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` launches."""
    sc = spark.sparkContext
    group = f"job-budget-{next(_group_seq)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("job-budget-idle", "job-budget-idle")
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def raw(spark):
    # 12 conversations 3 h apart starting 01:00: every turn lands on
    # 2024-01-01 or 2024-01-02
    df = generate_transcripts(spark, SynthSpec(
        n_convs=12, base_turns=20, n_mega=1, mega_turns=100, conv_spacing_s=3 * 3600,
        turn_gap_s=300, start_epoch=1704067200 + 3600, partitions=4))
    df.persist()
    df.count()
    yield df
    df.unpersist()


def test_refresh_job_budget(spark, raw, tmp_path):
    assert sorted(r[0] for r in raw.select(F.to_date("ts").cast("string")).distinct().collect()) \
        == ["2024-01-01", "2024-01-02"]
    managers = [QualityManager("missing_text",
                               lambda d, c, v, s: check_missing(F.col(v), kind="string"),
                               ["text"], handlers=[("record", "Bad")])]
    ctx = QCContext(series_keys=("conv_id",), order_cols=("turn_idx", "ts"))
    std, tiers = str(tmp_path / "std"), str(tmp_path / "tiers")

    def refresh():
        run_ingest(raw, transcripts_spec(), ctx, managers,
                   dedup_keys=["conv_id", "turn_idx"], table_path=std)
        r = run_rollup_job(read_tier(spark, std), tiers)
        assert sorted(r.written_days) == ["2024-01-01", "2024-01-02"]

    assert _jobs(spark, refresh) == REFRESH_JOB_BUDGET


def test_reads_of_own_tables_launch_no_job(spark, tmp_path):
    """A table the library wrote records its schema, so planning a read of
    it needs no schema-inference job."""
    df = spark.range(50).select(
        F.col("id"), (F.lit(1704067200) + F.col("id") * 7200).cast("timestamp").alias("ts"))
    write_tier(df, str(tmp_path / "tier"), ts_col="ts")
    assert _jobs(spark, lambda: read_tier(spark, str(tmp_path / "tier"))) == 0
    tbl = SnapshotTable(str(tmp_path / "snap"))
    tbl.append(df)
    assert _jobs(spark, lambda: tbl.read(spark)) == 0
