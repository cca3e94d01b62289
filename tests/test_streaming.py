"""Streaming spine tests (SURVEY.md §7 M4): bounded replay, crash-resume,
exactly-once across the commit/checkpoint gap."""

import pandas as pd

from sfr_ingest_pipeline_spark.oracle import (
    LOGICAL_COLS,
    load_binlog_pandas,
    reduce_binlog,
)
from sfr_ingest_pipeline_spark.streaming.replay import replay_stream
from sfr_ingest_pipeline_spark.table.transcript_table import TranscriptTable


def _table_pandas(spark, root):
    return (
        TranscriptTable.load(root)
        .scan(spark)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )


def test_available_now_replay_converges(spark, tmp_path, binlog_basic, small_cfg):
    binlog, _ = binlog_basic
    root = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    results = replay_stream(
        spark, binlog, root, ckpt, config=small_cfg, max_files_per_trigger=2
    )
    assert all(r.committed for r in results)
    golden = reduce_binlog(load_binlog_pandas(binlog))
    got = _table_pandas(spark, root)
    pd.testing.assert_frame_equal(
        got[LOGICAL_COLS], golden[LOGICAL_COLS], check_dtype=False
    )


def test_crash_resume_exactly_once(spark, tmp_path, binlog_basic, small_cfg):
    """Kill after the snapshot commit of batch 1 but before its checkpoint
    write; on resume, Structured Streaming re-delivers batch 1 and the engine
    must skip it (idempotent batch-id marker), then converge."""
    binlog, _ = binlog_basic
    root = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    first = replay_stream(
        spark, binlog, root, ckpt, config=small_cfg,
        max_files_per_trigger=1, fail_after_batch=1,
    )
    assert [r.batch_id for r in first] == [0, 1]
    assert all(r.committed for r in first)

    resumed = replay_stream(
        spark, binlog, root, ckpt, config=small_cfg, max_files_per_trigger=1
    )
    # batch 1 was committed pre-crash but not checkpointed -> re-delivered, skipped
    assert resumed[0].batch_id == 1 and resumed[0].skipped
    assert all(r.committed for r in resumed[1:])

    golden = reduce_binlog(load_binlog_pandas(binlog))
    got = _table_pandas(spark, root)
    pd.testing.assert_frame_equal(
        got[LOGICAL_COLS], golden[LOGICAL_COLS], check_dtype=False
    )


def test_schema_evolution_mid_replay(spark, tmp_path, binlog_evolving, small_cfg):
    """tool_meta appears from segment 3. Replay is staged like a real reader
    redeploy: the v1-schema stream drains segments 0-2, then the stream is
    restarted with the v2 schema (same checkpoint, same table) over the full
    binlog. The table must widen ALTER-on-write mid-replay; rows written
    before the widening read back with null tool_meta (BASELINE.json:6)."""
    import glob
    import os
    import shutil

    from sfr_ingest_pipeline_spark.schema import (
        CHANGE_EVENT_SCHEMA,
        CHANGE_EVENT_SCHEMA_V2,
    )

    binlog, _ = binlog_evolving
    staged = str(tmp_path / "staged_binlog")
    os.makedirs(staged)
    segs = sorted(glob.glob(os.path.join(binlog, "segment-*.parquet")))
    for p in segs[:3]:
        shutil.copy(p, staged)

    root = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    phase1 = replay_stream(
        spark, staged, root, ckpt, config=small_cfg,
        event_schema=CHANGE_EVENT_SCHEMA, max_files_per_trigger=1,
    )
    assert all(r.committed for r in phase1)
    schema_id_before = TranscriptTable.load(root).snapshot.schema_id
    assert "tool_meta" not in TranscriptTable.load(root).schema.fieldNames()

    for p in segs[3:]:
        shutil.copy(p, staged)
    phase2 = replay_stream(
        spark, staged, root, ckpt, config=small_cfg,
        event_schema=CHANGE_EVENT_SCHEMA_V2, max_files_per_trigger=1,
    )
    assert any(r.committed for r in phase2)

    table = TranscriptTable.load(root)
    assert "tool_meta" in table.schema.fieldNames()
    assert table.snapshot.schema_id == schema_id_before + 1
    golden = reduce_binlog(load_binlog_pandas(binlog))
    got = _table_pandas(spark, root)
    cols = LOGICAL_COLS + ["tool_meta"]
    pd.testing.assert_frame_equal(got[cols], golden[cols], check_dtype=False)
    # pre-widening winners must be readable (null tool_meta among them)
    assert got["tool_meta"].isna().any()


def test_two_source_replay_matches_sequential_oracle(spark, tmp_path, small_cfg):
    """Each microbatch is read natively from the segment paths the stream
    delivered. Over the stream's own grouping (one file per source per
    batch), the converged table and every per-batch counter must equal the
    sequential oracle's. The grouping crosses Spark's compacted source log
    (batch 9 is logged as ``9.compact``); one segment's name carries a space
    and glob metacharacters; feed B has 3 segments to feed A's 11, so
    batches 3-10 carry feed A only yet keep B's wider schema (tool_meta)."""
    import os

    from sfr_ingest_pipeline_spark.generator import BinlogGenerator, GeneratorSpec
    from sfr_ingest_pipeline_spark.oracle import simulate_replay
    from sfr_ingest_pipeline_spark.schema import CHANGE_EVENT_SCHEMA_V2
    from sfr_ingest_pipeline_spark.sources.binlog import BinlogSource

    def feed(name, n_segments, **spec):
        d = str(tmp_path / name)
        BinlogGenerator(GeneratorSpec(
            n_events=60 * n_segments, n_segments=n_segments, n_conversations=25,
            delete_ratio=0.08, duplicate_ratio=0.08, late_ratio=0.08,
            ts_tie_ratio=0.1, **spec,
        )).write_binlog(d)
        segs = [os.path.join(d, f) for f in sorted(os.listdir(d))]
        # the file source orders a trigger's files by modification time
        for i, p in enumerate(segs):
            os.utime(p, (1_000_000 + i, 1_000_000 + i))
        return d, [pd.read_parquet(p) for p in segs]

    a, a_segs = feed("feed_a", 11, seed=31)
    os.rename(os.path.join(a, "segment-000004.parquet"),
              os.path.join(a, "segment-000004 [x]{1}.parquet"))
    # same conversations, disjoint event_seq range: B's rows interleave with
    # and conflict against A's
    b, b_segs = feed("feed_b", 3, seed=32, seq_offset=10_000_000,
                     schema_v2_from_segment=0)

    root = str(tmp_path / "table")
    results = replay_stream(
        spark, [BinlogSource(a), BinlogSource(b, CHANGE_EVENT_SCHEMA_V2)],
        root, str(tmp_path / "ckpt"), config=small_cfg,
        event_schema=CHANGE_EVENT_SCHEMA_V2, max_files_per_trigger=1,
    )
    assert os.path.exists(tmp_path / "ckpt" / "sources" / "0" / "9.compact")

    batches = [
        pd.concat(a_segs[i:i + 1] + b_segs[i:i + 1], ignore_index=True)
        for i in range(len(a_segs))
    ]
    sim = simulate_replay(batches)
    assert [(r.batch_id, r.rows_in, r.dedup_dropped, r.events_applied,
             r.merge_conflicts) for r in results] == [
        (c.batch_id, c.rows_in, c.dedup_dropped, c.events_applied,
         c.merge_conflicts) for c in sim.counters
    ]
    assert sum(c.merge_conflicts for c in sim.counters) > 0
    cols = LOGICAL_COLS + ["tool_meta"]
    pd.testing.assert_frame_equal(
        _table_pandas(spark, root)[cols], sim.table[cols], check_dtype=False
    )
