"""Field-level merge (column_merge="coalesce", SURVEY.md §3.1 E2): partial
updates touch only the columns they carry; deletes cut history; stale events
may fill nulls but never override newer values. Golden-compared against the
extended pandas oracle in both write modes, including MoR stale-fill
versions that collide on (ts, event_seq) and are disambiguated by commit
recency (table/transcript_table.py commit_seq_col)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sfr_ingest_pipeline_spark.config import EngineConfig
from sfr_ingest_pipeline_spark.generator import generate_binlog
from sfr_ingest_pipeline_spark.oracle import (
    LOGICAL_COLS,
    load_binlog_pandas,
    simulate_replay,
)
from sfr_ingest_pipeline_spark.operators.merge import apply_batch
from sfr_ingest_pipeline_spark.table.transcript_table import TranscriptTable

T0 = pd.Timestamp("2024-01-01")


def _ev(op, conv, turn, role, text, tool, us, seq):
    return dict(
        op=op, conv_id=conv, turn_idx=turn, role=role, text=text, tool=tool,
        ts=T0 + pd.Timedelta(microseconds=us), event_seq=seq,
    )


def _edge_batches():
    b0 = pd.DataFrame([
        _ev("I", "c1", 0, "user", "hello", None, 10, 1),
        _ev("I", "c1", 1, "assistant", "hi there", None, 20, 2),
        _ev("I", "c2", 0, "user", "q", None, 30, 3),
    ])
    b1 = pd.DataFrame([
        # partial update: only text -> role survives from b0
        _ev("U", "c1", 0, None, "hello EDITED", None, 40, 4),
        # partial update: role+tool, no text -> text survives from b0
        _ev("U", "c1", 1, "tool", None, "search", 50, 5),
        _ev("D", "c2", 0, None, None, None, 60, 6),
    ])
    b2 = pd.DataFrame([
        # stale row-loser: state role already non-null -> fills nothing,
        # counts as a conflict
        _ev("U", "c1", 0, "admin", None, None, 35, 7),
        # reinsert after delete with a null tool...
        _ev("I", "c2", 0, "user", "back", None, 70, 8),
        # ...then a STALE event (65 < 70) AFTER the delete (60) fills tool
        _ev("U", "c2", 0, None, None, "python", 65, 9),
    ])
    b3 = pd.DataFrame([
        # pre-delete stale event must NOT resurrect into c2-0 (55 < 60)
        _ev("U", "c2", 0, None, "zombie", None, 55, 10),
        # exact re-delivery of the b1 text update -> conflict, no change
        _ev("U", "c1", 0, None, "hello EDITED", None, 40, 4),
        # delete for a NEVER-SEEN key: must land as a tombstone so the
        # late event in the same batch (older order) cannot resurrect it
        _ev("D", "c3", 0, None, None, None, 90, 11),
        _ev("U", "c3", 0, "user", "too late", None, 80, 12),
    ])
    return [b0, b1, b2, b3]


def _replay(spark, tmp_path, batches, cfg, name):
    root = str(tmp_path / name)
    TranscriptTable.create(root, n_buckets=cfg.n_buckets)
    results = []
    for i, seg in enumerate(batches):
        results.append(
            apply_batch(spark, root, spark.createDataFrame(seg), i, config=cfg)
        )
    return root, results


def _assert_matches_oracle(spark, root, results, batches):
    sim = simulate_replay(batches, column_merge="coalesce")
    got = (
        TranscriptTable.load(root).scan(spark)
        .orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True)
    )
    # compare evolved extra columns too, not just the v1 logical set
    cols = LOGICAL_COLS + [
        c for c in sim.table.columns
        if c not in LOGICAL_COLS and c in got.columns
    ]
    pd.testing.assert_frame_equal(
        got[cols], sim.table[cols], check_dtype=False
    )
    eng = [(r.dedup_dropped, r.events_applied, r.merge_conflicts)
           for r in results]
    orc = [(c.dedup_dropped, c.events_applied, c.merge_conflicts)
           for c in sim.counters]
    assert eng == orc


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_edge_cases_match_oracle(spark, tmp_path, mode):
    cfg = EngineConfig(n_buckets=4, n_salt=4, merge_mode=mode,
                       column_merge="coalesce", compact_delta_files=100,
                       shuffle_partitions=8)
    batches = _edge_batches()
    root, results = _replay(spark, tmp_path, batches, cfg, f"edge_{mode}")
    _assert_matches_oracle(spark, root, results, batches)
    # pin the semantics, not just oracle agreement
    got = {
        (r["conv_id"], r["turn_idx"]): r
        for r in TranscriptTable.load(root).scan(spark).collect()
    }
    assert got[("c1", 0)]["role"] == "user"          # partial kept old role
    assert got[("c1", 0)]["text"] == "hello EDITED"
    assert got[("c1", 1)]["text"] == "hi there"      # partial kept old text
    assert got[("c1", 1)]["tool"] == "search"
    assert got[("c2", 0)]["tool"] == "python"        # stale fill applied
    assert got[("c2", 0)]["text"] == "back"          # zombie did not win


def test_mor_stale_fill_survives_commit_collision(spark, tmp_path):
    """The stale fill writes a delta at the SAME (ts, event_seq) as the base
    version it supersedes; without the commit-seq tie-break the read-side
    resolve could return the unfilled row."""
    cfg = EngineConfig(n_buckets=2, n_salt=1, merge_mode="mor",
                       column_merge="coalesce", compact_delta_files=100,
                       shuffle_partitions=4)
    b0 = pd.DataFrame([_ev("I", "c9", 0, "user", "body", None, 100, 1)])
    b1 = pd.DataFrame([_ev("U", "c9", 0, None, None, "sql", 50, 2)])  # stale fill
    root, results = _replay(spark, tmp_path, [b0, b1], cfg, "collide")
    assert results[1].merge_conflicts == 1 and results[1].events_applied == 0
    row = TranscriptTable.load(root).scan(spark).collect()[0]
    assert row["tool"] == "sql" and row["text"] == "body"
    assert row["ts"] == T0 + pd.Timedelta(microseconds=100)  # order unchanged
    # and compaction resolves the same way (maintenance uses the tie-break)
    from sfr_ingest_pipeline_spark.table.maintenance import compact

    compact(spark, root, config=cfg)
    row2 = TranscriptTable.load(root).scan(spark).collect()[0]
    assert row2["tool"] == "sql" and row2["text"] == "body"


def test_cow_batch_folds_range_disjoint_stale_fill_delta(spark, tmp_path):
    """A CoW batch that rewrites a bucket holding a delta must fold the
    delta, even one whose conv_id range misses the batch. Carried forward,
    the stale-fill delta (same (ts, event_seq) as the base row) would lose
    the commit-recency tie-break to the rewritten base row."""
    from dataclasses import replace

    # shuffle_partitions=1: one write salt, so a bucket rewrite is one file
    cow = EngineConfig(n_buckets=1, n_salt=1, merge_mode="cow",
                       column_merge="coalesce", shuffle_partitions=1)
    mor = replace(cow, merge_mode="mor", compact_delta_files=100)
    batches = [
        pd.DataFrame([_ev("I", "c_a", 0, "user", "a", None, 100, 1),
                      _ev("I", "c_m", 0, "user", "m", None, 100, 2)]),
        pd.DataFrame([_ev("U", "c_m", 0, None, None, "sql", 50, 3)]),  # stale fill
        pd.DataFrame([_ev("U", "c_a", 0, None, "a2", None, 200, 4)]),
    ]
    root = str(tmp_path / "cow_after_fill")
    TranscriptTable.create(root, n_buckets=1)
    results = []
    for i, cfg in enumerate((cow, mor, cow)):
        results.append(apply_batch(spark, root, spark.createDataFrame(batches[i]),
                                   i, config=cfg))
        if i == 0:  # c_a and c_m share one base file
            assert len(TranscriptTable.load(root).files) == 1
    _assert_matches_oracle(spark, root, results, batches)
    assert {f.kind for f in TranscriptTable.load(root).files} == {"base"}


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_generated_partial_updates_match_oracle(spark, tmp_path, mode):
    """Generator-driven golden: 1500 events with 40% partial updates, dups,
    late events, deletes and ts ties, replayed segment-per-batch."""
    d = str(tmp_path / f"binlog_{mode}")
    generate_binlog(
        d, seed=77, n_conversations=40, n_events=1500, n_segments=5,
        delete_ratio=0.08, duplicate_ratio=0.08, late_ratio=0.08,
        ts_tie_ratio=0.1, partial_update_ratio=0.4,
    )
    batches = load_binlog_pandas(d)
    cfg = EngineConfig(n_buckets=8, n_salt=4, merge_mode=mode,
                       column_merge="coalesce", compact_delta_files=3,
                       shuffle_partitions=8)
    root, results = _replay(spark, tmp_path, batches, cfg, f"gen_{mode}")
    _assert_matches_oracle(spark, root, results, batches)


def test_salt_invariance_coalesce(spark, tmp_path):
    """Salted and unsalted coalesce aggregations converge identically (the
    candidate maxima compose across the salt pre-phase)."""
    d = str(tmp_path / "binlog_salt")
    generate_binlog(
        d, seed=5, n_conversations=20, n_events=600, n_segments=3,
        duplicate_ratio=0.15, partial_update_ratio=0.5,
    )
    batches = load_binlog_pandas(d)
    frames = []
    for n_salt in (1, 8):
        cfg = EngineConfig(n_buckets=4, n_salt=n_salt, column_merge="coalesce",
                           shuffle_partitions=8)
        root, _ = _replay(spark, tmp_path, batches, cfg, f"salt{n_salt}")
        frames.append(
            TranscriptTable.load(root).scan(spark)
            .orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True)
        )
    pd.testing.assert_frame_equal(frames[0], frames[1])


def test_row_mode_ignores_partial_semantics(spark, tmp_path):
    """Control: in row mode the same partial update CLOBBERS unmentioned
    columns with nulls — the two modes genuinely differ."""
    cfg = EngineConfig(n_buckets=2, n_salt=1, column_merge="row",
                       shuffle_partitions=4)
    b0 = pd.DataFrame([_ev("I", "c1", 0, "user", "hello", None, 10, 1)])
    b1 = pd.DataFrame([_ev("U", "c1", 0, None, "edit", None, 20, 2)])
    root, _ = _replay(spark, tmp_path, [b0, b1], cfg, "rowmode")
    row = TranscriptTable.load(root).scan(spark).collect()[0]
    assert row["role"] is None and row["text"] == "edit"


def test_coalesce_lww_reduce_oneshot(spark):
    """Standalone operator (operators/lww.py coalesce_lww_reduce): events
    with nulls + tombstones reduce to per-column latest non-null."""
    from sfr_ingest_pipeline_spark.operators.lww import coalesce_lww_reduce

    rows = [
        # key 1: b set at t1, a at t2, delete at t3, partial reinsert at t4
        (1, 10, 1, None, "b1", False),
        (1, 20, 2, "a2", None, False),
        (1, 30, 3, None, None, True),
        (1, 40, 4, "a4", None, False),
        # key 2: plain fills
        (2, 10, 5, "x", None, False),
        (2, 20, 6, None, "y", False),
        # key 3: newest is a tombstone -> dropped
        (3, 10, 7, "gone", None, False),
        (3, 20, 8, None, None, True),
    ]
    df = spark.createDataFrame(
        rows, ["k", "ts", "seq", "a", "b", "del"]
    )
    out = {
        r["k"]: r
        for r in coalesce_lww_reduce(
            df, ["k"], ["ts", "seq"], deleted="del", n_salt=4
        ).collect()
    }
    assert set(out) == {1, 2}
    assert out[1]["a"] == "a4" and out[1]["b"] is None  # b1 died with delete
    assert out[1]["ts"] == 40
    assert out[2]["a"] == "x" and out[2]["b"] == "y" and out[2]["ts"] == 20


def test_streaming_spine_coalesce(spark, tmp_path):
    """Field-level merge through the FULL streaming spine (replay_stream ->
    foreachBatch -> MERGE), partial updates included, vs the sequential
    oracle with the same per-segment batch boundaries."""
    from dataclasses import replace as dc_replace

    from sfr_ingest_pipeline_spark.streaming.replay import replay_stream

    d = str(tmp_path / "binlog_stream")
    generate_binlog(
        d, seed=31, n_conversations=30, n_events=900, n_segments=3,
        delete_ratio=0.08, duplicate_ratio=0.08, partial_update_ratio=0.5,
    )
    cfg = EngineConfig(n_buckets=4, n_salt=4, merge_mode="mor",
                       column_merge="coalesce", compact_delta_files=2,
                       shuffle_partitions=8)
    root = str(tmp_path / "t_stream")
    results = replay_stream(
        spark, d, root, str(tmp_path / "ck_stream"), config=cfg,
        max_files_per_trigger=1,
    )
    assert [r.batch_id for r in results] == [0, 1, 2]
    _assert_matches_oracle(spark, root, results, load_binlog_pandas(d))


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_schema_evolution_mid_replay_coalesce(spark, tmp_path, mode):
    """A column appearing mid-replay (ALTER-on-write) under coalesce: old
    state null-fills the new column, later partial updates fill it
    per-column, and the sequential oracle agrees batch-by-batch."""
    d = str(tmp_path / f"evo_{mode}")
    generate_binlog(
        d, seed=19, n_conversations=25, n_events=900, n_segments=4,
        partial_update_ratio=0.4, schema_v2_from_segment=2,
    )
    batches = load_binlog_pandas(d)
    cfg = EngineConfig(n_buckets=4, n_salt=4, merge_mode=mode,
                       column_merge="coalesce", compact_delta_files=3,
                       shuffle_partitions=8)
    root, results = _replay(spark, tmp_path, batches, cfg, f"evo_t_{mode}")
    _assert_matches_oracle(spark, root, results, batches)
    # the evolved column exists and is non-null somewhere post-widening
    got = TranscriptTable.load(root).scan(spark)
    assert "tool_meta" in got.columns


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_delete_memory_blocks_pre_delete_fill_across_batches(spark, tmp_path, mode):
    """The hypothesis-caught hole: after delete -> reinsert, the committed
    live row must still REMEMBER the delete (_del_hw physical column) so a
    late pre-delete event cannot fill columns it lost to the tombstone —
    across batch boundaries and under re-application."""
    cfg = EngineConfig(n_buckets=2, n_salt=1, merge_mode=mode,
                       column_merge="coalesce", compact_delta_files=100,
                       shuffle_partitions=4)
    batches = [
        pd.DataFrame([_ev("I", "m1", 0, "user", "v1", "search", 10, 1)]),
        pd.DataFrame([_ev("D", "m1", 0, None, None, None, 20, 2)]),
        pd.DataFrame([_ev("I", "m1", 0, "user", "v2", None, 30, 3)]),
        # stale event BETWEEN the delete (20) and nothing: 15 < 20 -> its
        # tool value died with the tombstone and must stay dead
        pd.DataFrame([_ev("U", "m1", 0, None, None, "python", 15, 4)]),
    ]
    root, results = _replay(spark, tmp_path, batches, cfg, f"mem_{mode}")
    _assert_matches_oracle(spark, root, results, batches)
    row = TranscriptTable.load(root).scan(spark).collect()[0]
    assert row["text"] == "v2" and row["tool"] is None, row
    # post-delete stale fill still works (25 > 20)
    b4 = pd.DataFrame([_ev("U", "m1", 0, None, None, "sql", 25, 5)])
    apply_batch(spark, root, spark.createDataFrame(b4), 4, config=cfg)
    row = TranscriptTable.load(root).scan(spark).collect()[0]
    assert row["tool"] == "sql"
    # and compaction preserves the memory (resolve keeps _del_hw exact)
    from sfr_ingest_pipeline_spark.table.maintenance import compact

    compact(spark, root, config=cfg)
    b5 = pd.DataFrame([_ev("U", "m1", 0, None, "zombie-text", None, 12, 6)])
    apply_batch(spark, root, spark.createDataFrame(b5), 5, config=cfg)
    row = TranscriptTable.load(root).scan(spark).collect()[0]
    assert row["text"] == "v2", row  # 12 < 20: still blocked post-compaction


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_float_nan_counts_as_missing(spark, tmp_path, mode):
    """A float NaN in a payload column is MISSING for the field-level fold
    (round-3 ADVICE): the pandas oracle's pd.isna already treats it so; the
    engine must isnan-guard its isNotNull presence tests or the two diverge
    the moment a numeric payload column carries NaN."""
    import math

    import numpy as np
    from pyspark.sql import types as T

    cfg = EngineConfig(n_buckets=4, n_salt=4, merge_mode=mode,
                       column_merge="coalesce", compact_delta_files=100,
                       shuffle_partitions=8)
    root = str(tmp_path / f"nan_{mode}")
    TranscriptTable.create(root, n_buckets=cfg.n_buckets)

    schema = T.StructType([
        T.StructField("op", T.StringType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("event_seq", T.LongType()),
    ])
    t = lambda us: (T0 + pd.Timedelta(microseconds=us)).to_pydatetime()
    b0 = [("I", "c1", 0, "user", "hello", None, t(10), 1.5, 1)]
    b1 = [("U", "c1", 0, None, "v2", None, t(20), float("nan"), 2)]
    df0 = spark.createDataFrame(b0, schema)
    df1 = spark.createDataFrame(b1, schema)
    # prove the guard is exercised: the batch really carries NaN, not null
    assert df1.filter(F.isnan("score")).count() == 1

    results = [apply_batch(spark, root, df0, 0, config=cfg),
               apply_batch(spark, root, df1, 1, config=cfg)]
    got = TranscriptTable.load(root).scan(spark).collect()
    assert len(got) == 1
    row = got[0]
    assert row["text"] == "v2"
    assert row["score"] == 1.5 and not math.isnan(row["score"])

    # pandas-oracle agreement on the same history
    pb0 = pd.DataFrame(b0, columns=[f.name for f in schema.fields])
    pb1 = pd.DataFrame(b1, columns=[f.name for f in schema.fields])
    pb1.loc[0, "score"] = np.nan
    _assert_matches_oracle(spark, root, results, [pb0, pb1])
