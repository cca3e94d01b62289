"""Metadata inspection tables (table/inspect.py): the DataFrames must agree
exactly with the table's internal metadata, track maintenance operations,
and read zero data files."""

from dataclasses import replace as dc_replace

import pandas as pd

from sfr_ingest_pipeline_spark.operators.merge import apply_batch
from sfr_ingest_pipeline_spark.table import inspect as tinspect
from sfr_ingest_pipeline_spark.table.maintenance import compact
from sfr_ingest_pipeline_spark.table.transcript_table import TranscriptTable


def ev(op, conv, turn, text, seq):
    return {
        "op": op, "conv_id": conv, "turn_idx": turn, "role": "user",
        "text": text, "tool": None,
        "ts": pd.Timestamp("2026-01-01") + pd.Timedelta(seconds=seq),
        "event_seq": seq,
    }


def _build(spark, tmp_path, cfg):
    cfg = dc_replace(cfg, compact_delta_files=8)
    root = str(tmp_path / "t")
    TranscriptTable.create(root, n_buckets=cfg.n_buckets)
    b0 = [ev("I", f"c{i}", 0, f"text {i}", i + 1) for i in range(20)]
    b1 = [ev("U", "c1", 0, "updated", 100), ev("D", "c2", 0, "", 101)]
    apply_batch(spark, root, spark.createDataFrame(pd.DataFrame(b0)), 0, config=cfg)
    apply_batch(spark, root, spark.createDataFrame(pd.DataFrame(b1)), 1, config=cfg)
    return root


def test_files_df_matches_manifest(spark, tmp_path, small_cfg):
    root = _build(spark, tmp_path, small_cfg)
    t = TranscriptTable.load(root)
    rows = tinspect.files_df(spark, t).collect()
    by_path = {r.path: r for r in rows}
    assert set(by_path) == {f.path for f in t.files}
    for f in t.files:
        r = by_path[f.path]
        assert (r.bucket, r.kind, r.rows, r.live_rows) == (
            f.bucket, f.kind, f.rows, f.live_rows
        )
        assert r.size_bytes > 0


def test_partitions_df_rolls_up_and_tracks_compaction(spark, tmp_path, small_cfg):
    root = _build(spark, tmp_path, small_cfg)
    t = TranscriptTable.load(root)
    parts = {r.bucket: r for r in tinspect.partitions_df(spark, t).collect()}
    files = t.files
    assert sum(p.n_files for p in parts.values()) == len(files)
    assert sum(p.rows for p in parts.values()) == sum(f.rows for f in files)
    # MoR second batch appended deltas somewhere
    assert sum(p.n_delta_files for p in parts.values()) > 0
    # the deleted key leaves a tombstone counted as debt
    assert sum(p.tombstone_rows for p in parts.values()) > 0
    compact(spark, root, expire_tombstones_older_than_us=int(2e18))
    t2 = TranscriptTable.load(root)
    parts2 = tinspect.partitions_df(spark, t2).collect()
    assert sum(p.n_delta_files for p in parts2) == 0
    assert sum(p.tombstone_rows for p in parts2) == 0


def test_snapshots_df_lineage_and_counters(spark, tmp_path, small_cfg):
    root = _build(spark, tmp_path, small_cfg)
    compact(spark, root)
    t = TranscriptTable.load(root)
    snaps = tinspect.snapshots_df(spark, t).orderBy("snapshot_id").collect()
    assert [s.snapshot_id for s in snaps] == [s.snapshot_id for s in t.history()]
    ops = [s.operation for s in snaps]
    assert ops[0] == "create"
    assert ops.count("ingest") == 2
    assert "compact" in ops[-1]
    # parent chain is consistent
    for prev, cur in zip(snaps, snaps[1:]):
        assert cur.parent_id == prev.snapshot_id
    # ingest counters surface exactly (batch 1: 1 update + 1 delete applied)
    ingest1 = [s for s in snaps if s.batch_id == 1][0]
    assert ingest1.events_applied == 2
    # created_at is monotone non-decreasing
    times = [s.created_at for s in snaps]
    assert times == sorted(times)


def test_inspect_reads_no_data_files(spark, tmp_path, small_cfg, monkeypatch):
    """The inspection surface is metadata-only: building all three frames
    must not open a single parquet data file through the Spark reader."""
    root = _build(spark, tmp_path, small_cfg)
    t = TranscriptTable.load(root)
    calls = []
    orig = type(spark.read).parquet

    def spy(self, *paths):
        calls.extend(paths)
        return orig(self, *paths)

    monkeypatch.setattr(type(spark.read), "parquet", spy)
    tinspect.snapshots_df(spark, t).collect()
    tinspect.files_df(spark, t).collect()
    tinspect.partitions_df(spark, t).collect()
    assert calls == []


def test_schemas_df_tracks_evolution(spark, tmp_path, binlog_evolving, small_cfg):
    """inspect schemas: one row per schema_id, v2 row names exactly the
    added tool_meta column."""
    from sfr_ingest_pipeline_spark.schema import CHANGE_EVENT_SCHEMA_V2
    from sfr_ingest_pipeline_spark.streaming.replay import replay_stream
    from sfr_ingest_pipeline_spark.table.inspect import schemas_df
    from sfr_ingest_pipeline_spark.table.transcript_table import TranscriptTable

    binlog, _ = binlog_evolving
    root = str(tmp_path / "t")
    replay_stream(spark, binlog, root, str(tmp_path / "ck"), config=small_cfg,
                  event_schema=CHANGE_EVENT_SCHEMA_V2)
    rows = schemas_df(spark, TranscriptTable.load(root)).orderBy(
        "schema_id").collect()
    assert [r.schema_id for r in rows] == [0, 1]
    assert rows[1].added_fields == "tool_meta"
    assert "tool_meta" in rows[1].fields and "tool_meta" not in rows[0].fields
