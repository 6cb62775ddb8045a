"""End-to-end pipeline: synthesize → standardize → QC → tier cascade →
store → read back → resume semantics (the reference's golden E2E layer,
SURVEY §5 port plan)."""

import pytest
from pyspark.sql import functions as F

from tsdat_spark.config import transcripts_spec
from pyspark.sql.types import DateType

from tsdat_spark.io.checkpoint import partition_manifests
from tsdat_spark.io.writers import read_tier
from tsdat_spark.pipeline import run_ingest, run_rollup_job
from tsdat_spark.qc import QCContext, QualityManager, check_missing, check_monotonic
from tsdat_spark.synth import SynthSpec, generate_transcripts


@pytest.fixture(scope="module")
def raw(spark):
    df = generate_transcripts(spark, SynthSpec(n_convs=15, base_turns=40, n_mega=1, mega_turns=600,
                                               conv_spacing_s=3600, turn_gap_s=300))
    df.persist(); df.count()
    yield df
    df.unpersist()


def test_ingest_e2e(raw, tmp_path):
    spec = transcripts_spec()
    ctx = QCContext(series_keys=("conv_id",), order_cols=("turn_idx", "ts"))
    managers = [
        QualityManager("missing_text", lambda d, c, v, s: check_missing(F.col(v), kind="string"),
                       ["text"], handlers=[("record", "Bad")]),
        QualityManager("monotonic_ts", lambda d, c, v, s: check_monotonic(c, F.col(v), "increasing"),
                       ["ts"], handlers=[("record", "Bad")]),
    ]
    table = str(tmp_path / "std")
    plotted = []
    res = run_ingest(raw, spec, ctx, managers, dedup_keys=["conv_id", "turn_idx"],
                     table_path=table,
                     hook_plot=lambda d: plotted.append(d.columns))
    assert res.qc_bits["text"][0].meaning == "missing_text"
    # the plot hook observed the FINAL dataframe exactly once, post-storage
    assert len(plotted) == 1 and "qc_text" in plotted[0]
    back = read_tier(raw.sparkSession, table)
    assert back.count() == res.df.count()
    assert "qc_text" in back.columns and "qc_ts" in back.columns
    # dedup invariant: (conv_id, turn_idx) unique, stable text
    assert back.groupBy("conv_id", "turn_idx").count().where("count > 1").count() == 0
    assert len(res.manifests) >= 1
    # manifests fingerprint the committed partitions; they must equal the
    # fingerprint of the plan that was written
    assert _fingerprints(res.manifests) == _fingerprints(
        partition_manifests(res.df, ts_col=spec.ts_col))
    # the schema sidecar reads back exactly what inference sees
    inferred = raw.sparkSession.read.parquet(table)
    assert back.schema == inferred.schema
    assert back.schema["p_date"].dataType == DateType()
    assert back.exceptAll(inferred).count() == 0 and inferred.exceptAll(back).count() == 0


def _fingerprints(manifests):
    return {m.partition: (m.n_rows, m.content_hash, m.qc_counters) for m in manifests}


def test_ingest_manifests_cover_null_ts_rows(raw, tmp_path):
    """Rows with a null ts are stored in the null partition; the manifests
    read back from the committed data still cover them."""
    df = raw.where(F.col("turn_idx") < 3).unionByName(
        raw.where(F.col("turn_idx") == 3).withColumn("ts", F.lit(None).cast("timestamp")))
    spec = transcripts_spec()
    res = run_ingest(df, spec, QCContext(), [], dedup_keys=["conv_id", "turn_idx"],
                     table_path=str(tmp_path / "std"))
    assert None in {m.partition for m in res.manifests}
    assert _fingerprints(res.manifests) == _fingerprints(
        partition_manifests(res.df, ts_col=spec.ts_col))


def _rebuilt_rows(spark, out, tier, days):
    """Independent count of a tier's partitions rebuilt by one run."""
    return (spark.read.parquet(f"{out}/tier_{tier}")
            .where(F.col("p_date").cast("string").isin(days)).count())


def test_rollup_job_resume(raw, tmp_path):
    from tsdat_spark.standardize import with_token_len, with_turn_latency

    turns = with_turn_latency(with_token_len(raw))
    out = str(tmp_path / "tiers")

    r1 = run_rollup_job(turns, out)
    assert r1.written_days and not r1.skipped_days
    t1m = read_tier(raw.sparkSession, f"{out}/tier_1m")
    t1d = read_tier(raw.sparkSession, f"{out}/tier_1d")
    assert t1m.count() == r1.metrics["tier_1m_rows"]
    assert 0 < t1d.count() < t1m.count()
    for tier in ("1m", "1h", "1d"):
        assert r1.metrics[f"tier_{tier}_rows"] == _rebuilt_rows(
            raw.sparkSession, out, tier, r1.written_days)

    # second run: nothing to do, so no tier reports rows
    r2 = run_rollup_job(turns, out)
    assert not r2.written_days
    assert sorted(r2.skipped_days) == sorted(r1.written_days)
    assert not any(k.startswith("tier_") for k in r2.metrics)

    # re-aggregated 1h equals direct re-read (counts)
    total_raw = turns.count()
    assert t1m.agg(F.sum("n_turns")).first()[0] == total_raw
    assert t1d.agg(F.sum("n_turns")).first()[0] == total_raw


def test_rollup_job_crash_resume_builds_missing_tiers(raw, tmp_path):
    """Crash between the base-tier write and the coarser tiers must NOT
    strand tier_1h/tier_1d: each tier has its own manifests, so the next
    run rebuilds the missing tiers from the written tier_1m without
    recomputing the base tier from raw turns."""
    import os

    from tsdat_spark.standardize import with_token_len, with_turn_latency

    turns = with_turn_latency(with_token_len(raw))
    out = str(tmp_path / "tiers2")

    # simulate the crash: a run that only completed the base tier
    r0 = run_rollup_job(turns, out, tiers=("1m",))
    assert r0.written_days and not os.path.isdir(f"{out}/tier_1h")

    # resumed full run: base tier skipped, coarser tiers rebuilt
    r1 = run_rollup_job(turns, out)
    assert r1.written_days == []  # base tier was NOT recomputed
    # metrics cover exactly the tiers rebuilt this run
    assert "tier_1m_rows" not in r1.metrics
    for tier in ("1h", "1d"):
        assert r1.metrics[f"tier_{tier}_rows"] == _rebuilt_rows(
            raw.sparkSession, out, tier, r0.written_days)
    total_raw = turns.count()
    for tier in ("1h", "1d"):
        t = read_tier(raw.sparkSession, f"{out}/tier_{tier}")
        assert t.agg(F.sum("n_turns")).first()[0] == total_raw

    # steady state: nothing to do anywhere
    r2 = run_rollup_job(turns, out)
    assert not r2.written_days
    assert sorted(r2.skipped_days) == sorted(r0.written_days)


def test_run_corpus_export_end_to_end(spark, tmp_path):
    """tokenize -> pack -> shard: the packed stream is contiguous (every
    doc starts where the previous ended), shards are internally ordered,
    and the manifest + merges sidecars round-trip."""
    import json

    from tsdat_spark.pipeline import run_corpus_export

    docs = spark.createDataFrame(
        [(i, "low lower lowest new newer " * (1 + i % 3)) for i in range(20)],
        "doc_id long, text string",
    )
    out = str(tmp_path / "export")
    manifest = run_corpus_export(spark, docs, out, n_merges=8, seq_len=16,
                                 shards=3)
    assert manifest["n_docs"] == 20
    assert manifest["n_tokens"] > 0
    assert manifest["stream_end"] == manifest["n_tokens"]

    written = spark.read.parquet(f"{out}/shards").orderBy("doc_id").collect()
    # contiguity: offsets are the exclusive prefix sum of token counts
    expect = 0
    for r in written:
        assert r["start_offset"] == expect
        assert r["seq_id"] == r["start_offset"] // 16
        assert r["pos_in_seq"] == r["start_offset"] % 16
        assert len(r["bpe_tokens"]) == r["n_bpe"]
        expect += r["n_bpe"]

    merges = json.loads(open(f"{out}/merges.json").read())
    assert 0 < len(merges) <= 8
    m2 = json.loads(open(f"{out}/manifest.json").read())
    assert m2["n_docs"] == 20 and m2["seq_len"] == 16

    # determinism: a second export is byte-identical on the packed stream
    out2 = str(tmp_path / "export2")
    run_corpus_export(spark, docs, out2, n_merges=8, seq_len=16, shards=3)
    a = spark.read.parquet(f"{out}/shards").orderBy("doc_id").collect()
    b = spark.read.parquet(f"{out2}/shards").orderBy("doc_id").collect()
    assert a == b


def test_run_corpus_export_handles_null_text(spark, tmp_path):
    """A NULL-text doc encodes to zero tokens and must not shift later
    documents' global offsets (the pack_sequences null contract)."""
    from tsdat_spark.pipeline import run_corpus_export

    docs = spark.createDataFrame(
        [(1, "aa bb"), (2, None), (3, "cc dd ee")], "doc_id long, text string"
    )
    out = str(tmp_path / "export_null")
    m = run_corpus_export(spark, docs, out, n_merges=2, seq_len=4, shards=1)
    rows = {r["doc_id"]: r for r in
            spark.read.parquet(f"{out}/shards").collect()}
    assert rows[2]["n_bpe"] == 0
    assert rows[2]["start_offset"] == rows[1]["n_bpe"]
    assert rows[3]["start_offset"] == rows[1]["n_bpe"]  # null doc adds 0
    assert m["n_docs"] == 3
