"""Snapshot-versioned table layer (io/snapshots.py): append/overwrite
snapshots, delta manifests with bounded-chain time travel and periodic
compaction, rollback-as-new-snapshot reusing manifests, expiry of
unreferenced files (including orphans from crashed commits), crash-safe
snapshot-id allocation, idempotent streaming-sink replay, and the
lineage hook a resumable pipeline stamps into its manifests.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from tsdat_spark.io.snapshots import SnapshotTable


def _df(spark, lo, hi):
    return spark.range(lo, hi).withColumnRenamed("id", "v")


def test_append_time_travel_and_counts(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    assert t.current_snapshot_id() is None
    s1 = t.append(_df(spark, 0, 10), timestamp=1000.0)
    s2 = t.append(_df(spark, 10, 15), timestamp=2000.0)
    assert (s1.snapshot_id, s2.snapshot_id) == (1, 2)
    assert s2.parent_id == 1
    assert (s1.n_rows_total, s2.n_rows_total) == (10, 15)
    assert t.read(spark).count() == 15
    assert t.read(spark, snapshot_id=1).count() == 10           # time travel
    assert sorted(r["v"] for r in t.read(spark, 1).collect()) == list(range(10))
    hist = t.snapshots()
    assert [s.snapshot_id for s in hist] == [1, 2]
    assert all(s.operation == "append" for s in hist)


def test_overwrite_and_rollback(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.append(_df(spark, 0, 10), timestamp=1.0)
    t.overwrite(_df(spark, 100, 103), timestamp=2.0)
    assert t.read(spark).count() == 3
    s3 = t.rollback(1, timestamp=3.0)
    assert s3.operation == "rollback" and s3.summary["rolled_back_to"] == 1
    assert t.read(spark).count() == 10                          # restored
    # history is never rewritten: the overwrite snapshot is still readable
    assert t.read(spark, snapshot_id=2).count() == 3


def test_expire_keeps_live_files_only(spark, tmp_path):
    root = str(tmp_path / "tbl")
    t = SnapshotTable(root)
    t.append(_df(spark, 0, 5), timestamp=1.0)
    t.overwrite(_df(spark, 5, 8), timestamp=2.0)   # snap-1 files now dead
    # simulate a crashed commit: orphan data dir without a manifest
    orphan = os.path.join(root, "data", "snap-000099")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "junk.parquet"), "wb") as f:
        f.write(b"x")
    out = t.expire(keep_last=1)
    assert out["deleted"] and out["data_dirs_removed"] == 2     # snap-1 + orphan
    assert t.read(spark).count() == 3                            # live data intact
    assert [s.snapshot_id for s in t.snapshots()] == [2]
    assert not os.path.exists(orphan)
    with pytest.raises(FileNotFoundError):
        t.snapshot(1)


def test_manifest_chain_is_delta_plus_bounded_read(tmp_path, spark):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.append(_df(spark, 0, 2), timestamp=1.0)
    s2 = t.append(_df(spark, 2, 4), timestamp=2.0)
    m = json.load(open(os.path.join(str(tmp_path / "tbl"), "metadata", "snap-000002.json")))
    # the snapshot JSON carries manifest POINTERS, never the full file list
    assert "files" not in m and len(m["manifest_files"]) == 2
    assert m["n_rows_total"] == 4 and m["n_rows_added"] == 2
    # resolution through the chain yields the full state, superset of the delta
    assert set(m["added_files"]) < set(t.files(s2))
    # parent's manifest file is REUSED byte-for-byte (immutable object)
    m1 = json.load(open(os.path.join(str(tmp_path / "tbl"), "metadata", "snap-000001.json")))
    assert m["manifest_files"][0] == m1["manifest_files"][0]


def test_commit_metadata_stays_flat_with_compaction(tmp_path, spark):
    """The round-5 verdict's scale caveat: commits must write O(added)
    metadata, not O(total files), with periodic compaction bounding the
    read chain. Append 12 single-partition batches at compact_every=4 and
    assert (a) per-commit manifest files stay flat-sized, (b) the chain
    never exceeds compact_every manifests, (c) reads stay exact across
    compaction boundaries."""
    t = SnapshotTable(str(tmp_path / "tbl"), compact_every=4)
    meta = os.path.join(str(tmp_path / "tbl"), "metadata")
    delta_sizes = []
    for i in range(12):
        s = t.append(_df(spark, i, i + 1).coalesce(1), timestamp=float(i))
        assert len(s.manifest_files) <= 4
        mpath = os.path.join(meta, f"manifest-{s.snapshot_id:06d}.json")
        if len(s.manifest_files) > 1:              # non-compaction commit
            delta_sizes.append(os.path.getsize(mpath))
    # non-compaction commits write a constant-size delta regardless of history
    assert max(delta_sizes) <= min(delta_sizes) + 16
    assert t.read(spark).count() == 12
    assert sorted(r["v"] for r in t.read(spark).collect()) == list(range(12))
    # compaction happened at least twice (chains folded to one manifest)
    compacted = [s for s in t.snapshots() if len(s.manifest_files) == 1 and s.snapshot_id > 1]
    assert compacted


def test_crashed_commit_does_not_wedge_appends(tmp_path, spark):
    """ADVICE r5: a crash between data-file write and hint flip used to
    make the next append collide on errorifexists. Snapshot ids are now
    allocated past every on-disk artifact, so the orphan is skipped."""
    root = str(tmp_path / "tbl")
    t = SnapshotTable(root)
    t.append(_df(spark, 0, 5), timestamp=1.0)
    # simulate the crash: data dir for snap-2 exists, no manifest, no hint flip
    orphan = os.path.join(root, "data", "snap-000002")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-junk.parquet"), "wb") as f:
        f.write(b"x")
    s = t.append(_df(spark, 5, 8), timestamp=2.0)   # must NOT raise
    assert s.snapshot_id == 3 and s.parent_id == 1
    assert t.read(spark).count() == 8
    out = t.expire(keep_last=1)                      # sweeps the orphan
    assert not os.path.exists(orphan) and out["data_dirs_removed"] >= 1


def test_rollback_reuses_manifests_writes_none(tmp_path, spark):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.append(_df(spark, 0, 4), timestamp=1.0)
    t.overwrite(_df(spark, 9, 10), timestamp=2.0)
    meta = os.path.join(str(tmp_path / "tbl"), "metadata")
    before = {n for n in os.listdir(meta) if n.startswith("manifest-")}
    s = t.rollback(1, timestamp=3.0)
    after = {n for n in os.listdir(meta) if n.startswith("manifest-")}
    assert before == after                      # zero new manifest objects
    assert s.manifest_files == t.snapshot(1).manifest_files
    assert t.read(spark).count() == 4


def test_lineage_snapshot_id_stamp(spark, tmp_path):
    """The resume contract: a pipeline reading from a SnapshotTable stamps
    the snapshot id it consumed; re-running against the same snapshot is a
    no-op decision the caller can make from equality alone."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.append(_df(spark, 0, 10), timestamp=1.0)
    consumed = t.current_snapshot_id()
    t.append(_df(spark, 10, 20), timestamp=2.0)
    assert t.current_snapshot_id() != consumed   # new data -> re-trigger
    df = t.read(spark, snapshot_id=consumed)     # but the old run's input
    assert df.count() == 10                      # is still exactly readable


def test_rollup_job_snapshot_short_circuit_and_incremental(spark, tmp_path):
    """Two-level resume: unchanged snapshot id -> zero Spark work; a new
    append re-triggers only via the normal per-day fingerprint path."""
    from pyspark.sql import functions as F

    from tsdat_spark.pipeline import run_rollup_job_snapshot

    ev = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
          .select(F.col("user_id").cast("string").alias("conv_id"),
                  F.lit("toolA").alias("tool"), F.lit("user").alias("role"),
                  F.col("ts").cast("timestamp").alias("ts"),
                  F.col("value"), F.lit(3).alias("token_len"),
                  F.lit(1000).alias("latency_us")))
    tbl = SnapshotTable(str(tmp_path / "in"))
    tbl.append(ev.where(F.dayofmonth("ts") <= 5), timestamp=1.0)
    out = str(tmp_path / "tiers")

    r1 = run_rollup_job_snapshot(tbl, spark, out, tiers=("1h", "1d"))
    assert r1.written_days and r1.metrics["snapshot_unchanged"] is False
    assert r1.metrics["snapshot_id"] == 1

    r2 = run_rollup_job_snapshot(tbl, spark, out, tiers=("1h", "1d"))
    assert r2.metrics["snapshot_unchanged"] is True      # O(1): no Spark job
    assert not r2.written_days

    tbl.append(ev.where(F.dayofmonth("ts") == 6), timestamp=2.0)
    r3 = run_rollup_job_snapshot(tbl, spark, out, tiers=("1h", "1d"))
    assert r3.metrics["snapshot_unchanged"] is False
    assert r3.written_days == ["2024-01-06"]             # only the new day
    assert set(r3.skipped_days) >= {"2024-01-01", "2024-01-05"}


def test_stream_append_snapshots(spark, tmp_path):
    """Each micro-batch commits one snapshot; time travel sees the feed's
    history and the rollup short-circuit works between batches."""
    import pandas as pd

    from tsdat_spark.streaming import stream_append_snapshots

    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame({"conv_id": ["a", "b"], "v": [1, 2]}).to_parquet(src / "f1.parquet")
    tbl = SnapshotTable(str(tmp_path / "tbl"))
    q = stream_append_snapshots(
        spark, str(src), "conv_id string, v bigint", tbl,
        str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert tbl.read(spark).count() == 2
    sid1 = tbl.current_snapshot_id()
    assert tbl.snapshot(sid1).summary["stream_batch_id"] == 0

    pd.DataFrame({"conv_id": ["c"], "v": [3]}).to_parquet(src / "f2.parquet")
    q = stream_append_snapshots(
        spark, str(src), "conv_id string, v bigint", tbl,
        str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert tbl.read(spark).count() == 3           # only the new file landed
    assert tbl.read(spark, sid1).count() == 2     # history intact


def test_stream_sink_replay_is_idempotent(spark, tmp_path):
    """VERDICT r5 #2: foreachBatch is at-least-once — a crash after the
    snapshot commit but before the streaming checkpoint commit replays the
    same batch_id on restart. The sink must skip it, not double-append."""
    from tsdat_spark.streaming import snapshot_sink

    tbl = SnapshotTable(str(tmp_path / "tbl"))
    df = _df(spark, 0, 5)
    assert snapshot_sink(tbl, df, 0) is True
    assert tbl.snapshot().n_rows_total == 5
    # simulated post-commit replay of the SAME batch_id
    assert snapshot_sink(tbl, df, 0) is False
    assert tbl.snapshot().n_rows_total == 5          # unchanged
    # a manual (non-stream) commit interleaves; the guard walks past it
    tbl.append(_df(spark, 5, 7), timestamp=1.0)
    assert snapshot_sink(tbl, df, 0) is False        # still a replay
    assert tbl.snapshot().n_rows_total == 7
    # the next real batch goes through
    assert snapshot_sink(tbl, _df(spark, 7, 10), 1) is True
    assert tbl.snapshot().n_rows_total == 10


def test_history_dedup_sink_cross_batch_exact(spark, tmp_path):
    """Cross-batch dedup against the full snapshot history: later batches
    drop keys seen in ANY earlier batch; within-batch keeper is the min
    order_col row; replays append nothing."""
    from tsdat_spark.streaming import history_dedup_sink

    tbl = SnapshotTable(str(tmp_path / "tbl"))
    sink = history_dedup_sink(tbl, key_cols=("text",), order_col="doc_id",
                              n_bits=1 << 10)

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    # batch 0: internal duplicate of "aa" -> keeper doc 1
    sink(docs([(1, "aa"), (2, "bb"), (3, "aa")]), 0)
    got = {r["doc_id"] for r in tbl.read(spark).collect()}
    assert got == {1, 2}

    # batch 1: "bb" is history, "cc"/"dd" are new
    sink(docs([(10, "bb"), (11, "cc"), (12, "dd")]), 1)
    got = {r["doc_id"] for r in tbl.read(spark).collect()}
    assert got == {1, 2, 11, 12}

    # simulated post-commit replay of batch 1: nothing changes
    sink(docs([(10, "bb"), (11, "cc"), (12, "dd")]), 1)
    assert {r["doc_id"] for r in tbl.read(spark).collect()} == {1, 2, 11, 12}

    # batch 2 dedups against batches 0 AND 1
    sink(docs([(20, "cc"), (21, "ee")]), 2)
    assert {r["doc_id"] for r in tbl.read(spark).collect()} == {1, 2, 11, 12, 21}


def test_history_dedup_sink_exact_under_saturated_bloom(spark, tmp_path):
    """A deliberately tiny bloom (64 bits) forces false positives on
    nearly every key — the confirm join must keep the result exact."""
    from tsdat_spark.streaming import history_dedup_sink

    tbl = SnapshotTable(str(tmp_path / "tbl"))
    sink = history_dedup_sink(tbl, key_cols=("text",), order_col="doc_id",
                              n_bits=64, n_hashes=3)

    def docs(lo, hi):
        return spark.createDataFrame(
            [(i, f"k{i}") for i in range(lo, hi)], "doc_id long, text string"
        )

    sink(docs(0, 40), 0)
    sink(docs(20, 60), 1)   # 20-39 are dups, 40-59 new
    got = sorted(r["doc_id"] for r in tbl.read(spark).collect())
    assert got == list(range(60))


def test_history_dedup_sink_bootstrap_from_existing_table(spark, tmp_path):
    """A restarted sink (fresh bloom state) must still dedup against rows
    ingested before the restart — the bootstrap build covers history."""
    from tsdat_spark.streaming import history_dedup_sink

    tbl = SnapshotTable(str(tmp_path / "tbl"))
    first = history_dedup_sink(tbl, key_cols=("text",), order_col="doc_id")
    first(spark.createDataFrame([(1, "old")], "doc_id long, text string"), 0)

    # new sink instance = restart; batch replays an old key + a new one
    second = history_dedup_sink(tbl, key_cols=("text",), order_col="doc_id")
    second(
        spark.createDataFrame([(2, "old"), (3, "new")],
                              "doc_id long, text string"), 1
    )
    assert {r["doc_id"] for r in tbl.read(spark).collect()} == {1, 3}


def test_stream_sink_guard_is_scoped_per_stream_id(spark, tmp_path):
    """Batch ids restart at 0 when a stream gets a NEW checkpoint; the
    replay guard must not swallow the new stream's first batches."""
    from tsdat_spark.streaming import snapshot_sink

    tbl = SnapshotTable(str(tmp_path / "tbl"))
    assert snapshot_sink(tbl, _df(spark, 0, 3), 0, stream_id="ckpt-A") is True
    assert snapshot_sink(tbl, _df(spark, 3, 6), 1, stream_id="ckpt-A") is True
    # same stream replays -> skipped
    assert snapshot_sink(tbl, _df(spark, 3, 6), 1, stream_id="ckpt-A") is False
    # a DIFFERENT checkpoint (reprocessing) restarts at batch 0: must land
    assert snapshot_sink(tbl, _df(spark, 6, 8), 0, stream_id="ckpt-B") is True
    assert tbl.snapshot().n_rows_total == 8
    # and its own replays are still caught
    assert snapshot_sink(tbl, _df(spark, 6, 8), 0, stream_id="ckpt-B") is False
    # ...while stream A continues from its own stamp
    assert snapshot_sink(tbl, _df(spark, 8, 9), 2, stream_id="ckpt-A") is True
    assert tbl.snapshot().n_rows_total == 9


def test_legacy_snapshot_format_still_reads(spark, tmp_path):
    """Tables written by the pre-delta-manifest layout (snapshot json
    carries the FULL 'files' list inline) must stay readable."""
    import json

    tbl = SnapshotTable(str(tmp_path / "tbl"))
    tbl.append(_df(spark, 0, 4))
    sid = tbl.current_snapshot_id()
    # rewrite the snapshot json in the legacy shape
    snap = tbl.snapshot(sid)
    legacy = {
        "snapshot_id": snap.snapshot_id,
        "parent_id": snap.parent_id,
        "operation": snap.operation,
        "timestamp": snap.timestamp,
        "files": tbl.files(snap),
        "added_files": snap.added_files,
        "n_rows_added": snap.n_rows_added,
        "n_rows_total": snap.n_rows_total,
        "summary": snap.summary,
    }
    tbl.fs.write_text(tbl._snapshot_path(sid), json.dumps(legacy))
    reread = SnapshotTable(str(tmp_path / "tbl"))
    assert reread.read(spark).count() == 4
    # appends on top of a legacy snapshot keep working (new format forward)
    reread.append(_df(spark, 4, 6))
    assert reread.read(spark).count() == 6


def test_snapshot_schema_recorded_and_pre_schema_json_still_reads(spark, tmp_path):
    """Commits record the written schema, which reads use instead of
    inferring it; rollback carries it. Snapshot JSON written before the
    field existed has no schema and still reads, by inference, to the same
    schema and rows."""
    tbl = SnapshotTable(str(tmp_path / "tbl"))
    df = _df(spark, 0, 4).withColumn("s", F.col("v").cast("string"))
    s1 = tbl.append(df)
    assert s1.schema == df.schema.jsonValue()
    tbl.append(df)
    assert tbl.rollback(s1.snapshot_id).schema == s1.schema
    known = tbl.read(spark)
    # drop the field, as a snapshot committed before it existed
    for s in tbl.snapshots():
        d = json.loads(tbl.fs.read_text(tbl._snapshot_path(s.snapshot_id)))
        del d["schema"]
        tbl.fs.write_text(tbl._snapshot_path(s.snapshot_id), json.dumps(d))
    reread = SnapshotTable(str(tmp_path / "tbl"))
    assert reread.snapshot().schema is None
    inferred = reread.read(spark)
    assert inferred.schema == known.schema
    assert sorted(inferred.collect()) == sorted(known.collect())
    # a commit on top of a pre-schema parent records its own schema
    assert reread.append(df).schema == df.schema.jsonValue()


def _legacyize(tbl, sid):
    """Rewrite snapshot sid's json in the pre-delta-manifest layout."""
    import json

    snap = tbl.snapshot(sid)
    legacy = {
        "snapshot_id": snap.snapshot_id,
        "parent_id": snap.parent_id,
        "operation": snap.operation,
        "timestamp": snap.timestamp,
        "files": tbl.files(snap),
        "added_files": snap.added_files,
        "n_rows_added": snap.n_rows_added,
        "n_rows_total": snap.n_rows_total,
        "summary": snap.summary,
    }
    tbl.fs.write_text(tbl._snapshot_path(sid), json.dumps(legacy))


def test_rollback_to_legacy_snapshot_keeps_files(spark, tmp_path):
    """Rolling back to a pre-delta-manifest snapshot must materialize its
    inline file list — an empty-manifest rollback would read as an empty
    table and let expire() collect still-referenced data."""
    tbl = SnapshotTable(str(tmp_path / "tbl"))
    tbl.append(_df(spark, 0, 4))
    sid1 = tbl.current_snapshot_id()
    tbl.append(_df(spark, 4, 7))
    _legacyize(tbl, sid1)

    reread = SnapshotTable(str(tmp_path / "tbl"))
    reread.rollback(sid1)
    assert reread.read(spark).count() == 4
    # expire must keep the legacy snapshot's data alive
    reread.expire(keep_last=1)
    assert reread.read(spark).count() == 4


def test_stream_guard_honors_unscoped_legacy_stamps(spark, tmp_path):
    """A stamp written before stream_id scoping existed has no stream_id;
    the scoped guard must still treat it as a replay of the SAME stream
    (the upgrade scenario: crash-landed commit, checkpoint replays)."""
    from tsdat_spark.streaming import snapshot_sink

    tbl = SnapshotTable(str(tmp_path / "tbl"))
    # old-code stamp: no stream_id in the summary
    tbl.append(_df(spark, 0, 3), summary={"stream_batch_id": 7})
    # upgraded sink replays the crash-window batch with scoping on
    assert snapshot_sink(tbl, _df(spark, 0, 3), 7, stream_id="ckpt") is False
    assert tbl.snapshot().n_rows_total == 3
    # and the next batch proceeds, now stamped with the stream id
    assert snapshot_sink(tbl, _df(spark, 3, 5), 8, stream_id="ckpt") is True
    assert tbl.snapshot().summary["stream_id"] == "ckpt"
