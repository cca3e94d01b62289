"""Merge-on-read mode: golden parity with CoW, delta append + compaction."""

from collections import Counter
from dataclasses import replace

import pandas as pd
import pytest

from sfr_ingest_pipeline_spark.oracle import LOGICAL_COLS, simulate_replay
from sfr_ingest_pipeline_spark.operators.merge import apply_batch
from sfr_ingest_pipeline_spark.table.transcript_table import TranscriptTable


def _apply_segments(spark, tmp_path, segments, cfg, name):
    root = str(tmp_path / name)
    TranscriptTable.create(root, n_buckets=cfg.n_buckets)
    results = []
    for i, seg in enumerate(segments):
        df = spark.createDataFrame(seg)
        results.append(apply_batch(spark, root, df, i, config=cfg))
    return root, results


def _table_pandas(spark, root):
    return (
        TranscriptTable.load(root)
        .scan(spark)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def mor_cfg(small_cfg):
    return replace(small_cfg, merge_mode="mor", compact_delta_files=3)


def test_mor_matches_oracle_and_counters(spark, tmp_path, segments_basic, mor_cfg):
    root, results = _apply_segments(spark, tmp_path, segments_basic, mor_cfg, "m1")
    sim = simulate_replay(segments_basic)
    got = _table_pandas(spark, root)
    pd.testing.assert_frame_equal(
        got[LOGICAL_COLS], sim.table[LOGICAL_COLS], check_dtype=False
    )
    eng = [
        (r.batch_id, r.dedup_dropped, r.events_applied, r.merge_conflicts)
        for r in results
    ]
    orc = [
        (c.batch_id, c.dedup_dropped, c.events_applied, c.merge_conflicts)
        for c in sim.counters
    ]
    assert eng == orc


def test_mor_appends_deltas_then_compacts(spark, tmp_path, segments_basic, mor_cfg):
    root, _ = _apply_segments(spark, tmp_path, segments_basic, mor_cfg, "m2")
    table = TranscriptTable.load(root)
    kinds_by_snapshot = []
    for snap in table.history():
        kinds = {}
        for f in TranscriptTable(root, snap).files:
            kinds[f.kind] = kinds.get(f.kind, 0) + 1
        kinds_by_snapshot.append(kinds)
    # deltas must have appeared at some point
    assert any(k.get("delta", 0) > 0 for k in kinds_by_snapshot)
    # 5 batches with threshold 3 -> compaction must have fired: delta count
    # per bucket in the FINAL snapshot is below threshold + 1
    final_deltas = table.delta_file_counts()
    assert all(v <= mor_cfg.compact_delta_files for v in final_deltas.values())


def test_mor_write_amplification_lower(spark, tmp_path, segments_basic, small_cfg, mor_cfg):
    """MoR delta commits write far fewer rows than CoW rewrites."""
    cow_root, _ = _apply_segments(spark, tmp_path, segments_basic, small_cfg, "m3c")
    mor_root, _ = _apply_segments(
        spark, tmp_path, segments_basic,
        replace(mor_cfg, compact_delta_files=100), "m3m",
    )

    def written_rows(root):
        # physical rows across all files ever written (every commit keeps its
        # own data dir, so this measures cumulative write amplification)
        import glob
        import os

        import pyarrow.parquet as pq

        return sum(
            pq.ParquetFile(p).metadata.num_rows
            for p in glob.glob(os.path.join(root, "data", "**", "*.parquet"), recursive=True)
        )

    assert written_rows(mor_root) < written_rows(cow_root)


def test_mor_crash_resume(spark, tmp_path, binlog_basic, mor_cfg):
    from sfr_ingest_pipeline_spark.oracle import (
        load_binlog_pandas,
        reduce_binlog,
    )
    from sfr_ingest_pipeline_spark.streaming.replay import replay_stream

    binlog, _ = binlog_basic
    root = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    first = replay_stream(
        spark, binlog, root, ckpt, config=mor_cfg,
        max_files_per_trigger=1, fail_after_batch=1,
    )
    assert all(r.committed for r in first)
    resumed = replay_stream(
        spark, binlog, root, ckpt, config=mor_cfg, max_files_per_trigger=1
    )
    assert resumed[0].skipped
    golden = reduce_binlog(load_binlog_pandas(binlog))
    got = _table_pandas(spark, root)
    pd.testing.assert_frame_equal(
        got[LOGICAL_COLS], golden[LOGICAL_COLS], check_dtype=False
    )


def test_mor_time_travel(spark, tmp_path, segments_basic, mor_cfg):
    root, _ = _apply_segments(spark, tmp_path, segments_basic[:3], mor_cfg, "m5")
    sim2 = simulate_replay(segments_basic[:2])
    past = TranscriptTable.load(root).load_snapshot_as_of_batch(1)
    got = (
        past.scan(spark).orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[LOGICAL_COLS], sim2.table[LOGICAL_COLS], check_dtype=False
    )


def test_target_payload_prune_equivalent(spark, tmp_path):
    """Round-6 optimization: in row-mode MoR, target files in non-compact
    buckets are scanned metadata-only (their payload can never reach the
    output). The converged table and every per-batch counter must equal the
    sequential oracle's over the same two-segments-per-batch grouping."""
    import os

    from sfr_ingest_pipeline_spark.config import EngineConfig
    from sfr_ingest_pipeline_spark.generator import generate_binlog
    from sfr_ingest_pipeline_spark.oracle import load_binlog_pandas
    from sfr_ingest_pipeline_spark.streaming.replay import replay_stream

    binlog = str(tmp_path / "binlog")
    generate_binlog(
        binlog, seed=77, n_conversations=40, n_events=3000, n_segments=6,
        delete_ratio=0.1, duplicate_ratio=0.1, late_ratio=0.1, ts_tie_ratio=0.1,
    )
    # the file source orders a trigger's files by modification time
    for i, name in enumerate(sorted(os.listdir(binlog))):
        os.utime(os.path.join(binlog, name), (1_000_000 + i, 1_000_000 + i))
    cfg = EngineConfig(
        n_buckets=8, n_salt=1, shuffle_partitions=8, merge_mode="mor",
        compact_delta_files=2,
    )
    root = str(tmp_path / "table")
    results = replay_stream(
        spark, binlog, root, str(tmp_path / "ckpt"),
        config=cfg, max_files_per_trigger=2,
    )
    segs = load_binlog_pandas(binlog)
    sim = simulate_replay(
        [pd.concat(segs[i:i + 2], ignore_index=True) for i in range(0, len(segs), 2)]
    )
    assert [(r.batch_id, r.rows_in, r.dedup_dropped, r.events_applied,
             r.merge_conflicts) for r in results] == [
        (c.batch_id, c.rows_in, c.dedup_dropped, c.events_applied,
         c.merge_conflicts) for c in sim.counters
    ]
    pd.testing.assert_frame_equal(
        _table_pandas(spark, root)[LOGICAL_COLS], sim.table[LOGICAL_COLS],
        check_dtype=False,
    )


@pytest.mark.parametrize("shuffle_partitions", [1, 4, 8])
def test_written_files_do_not_depend_on_task_count(
    spark, tmp_path, segments_basic, shuffle_partitions
):
    """The bucketed writer runs ``shuffle_partitions`` tasks, but the files
    follow the bucket layout: every delta batch writes exactly one file per
    bucket it writes, a compaction at most ``n_wsalt`` files per bucket, and
    the table equals the sequential oracle either way. Groups are placed
    by dense id, so no two salts of a bucket share a task: a compaction
    writes exactly ``n_wsalt`` files per bucket."""
    from sfr_ingest_pipeline_spark.config import EngineConfig
    from sfr_ingest_pipeline_spark.table.maintenance import compact

    cfg = EngineConfig(
        n_buckets=2, n_salt=1, shuffle_partitions=shuffle_partitions,
        merge_mode="mor", compact_delta_files=100,
    )
    root = str(tmp_path / "t")
    TranscriptTable.create(root, n_buckets=cfg.n_buckets)

    def written_by(op):
        before = {f.path for f in TranscriptTable.load(root).files}
        op()
        return [f for f in TranscriptTable.load(root).files
                if f.path not in before]

    sim = simulate_replay(segments_basic)
    for i, seg in enumerate(segments_basic):
        written = written_by(lambda: apply_batch(
            spark, root, spark.createDataFrame(seg), i, config=cfg))
        assert written and {f.kind for f in written} == {"delta"}
        assert set(Counter(f.bucket for f in written).values()) == {1}
    pd.testing.assert_frame_equal(
        _table_pandas(spark, root)[LOGICAL_COLS], sim.table[LOGICAL_COLS],
        check_dtype=False,
    )

    written = written_by(lambda: compact(spark, root, config=cfg))
    n_wsalt = max(1, min(8, shuffle_partitions // cfg.n_buckets))
    counts = Counter(f.bucket for f in written)
    assert {f.kind for f in written} == {"base"}
    assert set(counts) == {0, 1}
    assert max(counts.values()) <= n_wsalt
    if shuffle_partitions == 4:
        assert counts == {0: 2, 1: 2}
    pd.testing.assert_frame_equal(
        _table_pandas(spark, root)[LOGICAL_COLS], sim.table[LOGICAL_COLS],
        check_dtype=False,
    )
