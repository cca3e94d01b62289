"""Incremental view maintenance (streaming/incremental.py): the per-
conversation rollup maintained from the changelog must equal a full
recompute from the table at every snapshot — including the delta-only
path, the max-invalidated recompute fallback, group deletion markers, and
cursor jumps across several commits."""

from dataclasses import replace as dc_replace

import pandas as pd
import pytest

from sfr_ingest_pipeline_spark.operators.merge import apply_batch
from sfr_ingest_pipeline_spark.streaming.incremental import (
    IncrementalAggView,
    _rollup,
)
from sfr_ingest_pipeline_spark.table.transcript_table import TranscriptTable


def ev(op, conv, turn, text, seq, ts_s=None):
    return {
        "op": op, "conv_id": conv, "turn_idx": turn, "role": "user",
        "text": text, "tool": None,
        "ts": pd.Timestamp("2026-01-01")
        + pd.Timedelta(seconds=seq if ts_s is None else ts_s),
        "event_seq": seq,
    }


def view_state(view, spark):
    return {
        r.conv_id: (r.n_turns, r.total_chars, r.last_ts)
        for r in view.read(spark).collect()
    }


def oracle_state(table, spark):
    return {
        r.conv_id: (r.n_turns, r.total_chars, r.last_ts)
        for r in _rollup(table.scan(spark)).collect()
    }


def test_changes_pre_post_fans_out_updates(spark, tmp_path, small_cfg):
    root = str(tmp_path / "pp")
    TranscriptTable.create(root, n_buckets=small_cfg.n_buckets)
    b0 = pd.DataFrame([ev("I", "c1", 0, "a", 1), ev("I", "c2", 0, "x", 2)])
    b1 = pd.DataFrame([ev("U", "c1", 0, "aa", 10), ev("D", "c2", 0, "", 11),
                       ev("I", "c3", 0, "z", 12)])
    r0 = apply_batch(spark, root, spark.createDataFrame(b0), 0, config=small_cfg)
    r1 = apply_batch(spark, root, spark.createDataFrame(b1), 1, config=small_cfg)
    t = TranscriptTable.load(root)
    rows = t.changes_between(spark, r0.snapshot_id, r1.snapshot_id,
                             pre_post=True).collect()
    got = {(r.conv_id, r._change_type): r.text for r in rows}
    assert got == {
        ("c1", "update_preimage"): "a",
        ("c1", "update_postimage"): "aa",
        ("c2", "delete"): "x",
        ("c3", "insert"): "z",
    }
    # pre/post rows carry the key of the same tuple
    assert all(r.turn_idx == 0 for r in rows)


@pytest.mark.parametrize("threshold", [0, 8], ids=["cow", "mor"])
def test_view_matches_full_recompute_every_snapshot(
    spark, tmp_path, small_cfg, threshold
):
    cfg = dc_replace(small_cfg, compact_delta_files=threshold)
    root = str(tmp_path / f"t_{threshold}")
    view = IncrementalAggView(str(tmp_path / f"v_{threshold}"), root)
    TranscriptTable.create(root, n_buckets=cfg.n_buckets)
    batches = [
        # bootstrap content
        [ev("I", "c1", 0, "hello", 1), ev("I", "c1", 1, "world!", 2),
         ev("I", "c2", 0, "xyz", 3)],
        # text growth + new group
        [ev("U", "c1", 1, "world, again", 10), ev("I", "c3", 0, "q", 11)],
        # delete NOT carrying the group max (c1 turn 1 keeps the max ts)
        [ev("D", "c1", 0, "", 20)],
        # full group deletion -> marker
        [ev("D", "c2", 0, "", 30)],
        # group reappears after deletion
        [ev("I", "c2", 0, "back", 40)],
    ]
    for i, rows in enumerate(batches):
        apply_batch(spark, root, spark.createDataFrame(pd.DataFrame(rows)),
                    i, config=cfg)
        res = view.refresh(spark)
        t = TranscriptTable.load(root)
        assert view_state(view, spark) == oracle_state(t, spark), (threshold, i, res)
    assert "c2" in view_state(view, spark)
    # the only delete that removed a group max also emptied the group (c2,
    # batch 3) -> marker path, not recompute; every other step is delta-only
    assert view.refresh(spark)["mode"] == "noop"


def test_max_invalidated_falls_back_to_pruned_recompute(
    spark, tmp_path, small_cfg
):
    root = str(tmp_path / "t")
    view = IncrementalAggView(str(tmp_path / "v"), root)
    TranscriptTable.create(root, n_buckets=small_cfg.n_buckets)
    b0 = [ev("I", "c1", 0, "early", 1, ts_s=100),
          ev("I", "c1", 1, "late", 2, ts_s=200),
          ev("I", "c9", 0, "other", 3, ts_s=50)]
    apply_batch(spark, root, spark.createDataFrame(pd.DataFrame(b0)), 0,
                config=small_cfg)
    view.refresh(spark)
    # delete the row holding c1's max ts; nothing added dominates it, so the
    # exact rule cannot resolve last_ts from deltas alone
    b1 = [ev("D", "c1", 1, "", 10, ts_s=200)]
    apply_batch(spark, root, spark.createDataFrame(pd.DataFrame(b1)), 1,
                config=small_cfg)
    res = view.refresh(spark)
    assert res["mode"] == "delta"
    assert res["recomputed_groups"] == 1
    t = TranscriptTable.load(root)
    assert view_state(view, spark) == oracle_state(t, spark)
    st = view_state(view, spark)["c1"]
    assert st[0] == 1 and st[2] == pd.Timestamp("2026-01-01") + pd.Timedelta(seconds=100)


def test_cursor_jumps_across_multiple_commits(spark, tmp_path, small_cfg):
    root = str(tmp_path / "t")
    view = IncrementalAggView(str(tmp_path / "v"), root)
    TranscriptTable.create(root, n_buckets=small_cfg.n_buckets)
    apply_batch(spark, root, spark.createDataFrame(pd.DataFrame(
        [ev("I", "c1", 0, "a", 1)])), 0, config=small_cfg)
    view.refresh(spark)
    # two commits land before the next refresh — one changelog scan nets both
    apply_batch(spark, root, spark.createDataFrame(pd.DataFrame(
        [ev("I", "c2", 0, "bb", 10), ev("U", "c1", 0, "a2", 11)])),
        1, config=small_cfg)
    apply_batch(spark, root, spark.createDataFrame(pd.DataFrame(
        [ev("D", "c2", 0, "", 20), ev("I", "c3", 0, "ccc", 21)])),
        2, config=small_cfg)
    res = view.refresh(spark)
    assert res["mode"] == "delta"
    t = TranscriptTable.load(root)
    assert view_state(view, spark) == oracle_state(t, spark)
    # c2 netted insert+delete across the jump -> absent from both sides
    assert "c2" not in view_state(view, spark)


def test_generator_replay_view_converges(spark, tmp_path, small_cfg,
                                         segments_basic):
    """Full fixture replay (dups, late events, deletes, ts ties): refresh
    after every segment, then compact — the view equals the full recompute
    at the end and at every intermediate snapshot."""
    root = str(tmp_path / "t")
    view = IncrementalAggView(str(tmp_path / "v"), root)
    TranscriptTable.create(root, n_buckets=small_cfg.n_buckets)
    for i, seg in enumerate(segments_basic):
        apply_batch(spark, root, spark.createDataFrame(seg), i,
                    config=small_cfg)
        view.refresh(spark)
        t = TranscriptTable.load(root)
        assert view_state(view, spark) == oracle_state(t, spark), i
    n = view.compact(spark)
    t = TranscriptTable.load(root)
    oracle = oracle_state(t, spark)
    assert n == len(oracle)
    assert view_state(view, spark) == oracle


def test_view_refreshes_exactly_over_dml(spark, tmp_path, small_cfg):
    """Row-level DML commits are changelog-visible by contract, so an
    incremental view must converge across a DELETE and an UPDATE without a
    recompute — the correction surface and the IVM read side compose."""
    from sfr_ingest_pipeline_spark.table.dml import delete_where, update_where

    root = str(tmp_path / "dmlv")
    TranscriptTable.create(root, n_buckets=small_cfg.n_buckets)
    b0 = pd.DataFrame([
        ev("I", "c1", 0, "aaa", 1), ev("I", "c1", 1, "bb", 2),
        ev("I", "c2", 0, "cccc", 3), ev("I", "c3", 0, "d", 4),
    ])
    apply_batch(spark, root, spark.createDataFrame(b0), 0, config=small_cfg)
    view = IncrementalAggView(str(tmp_path / "v_dml"), root)
    view.refresh(spark)

    update_where(spark, root, "conv_id = 'c1' and turn_idx = 0",
                 {"text": "'lengthened text'"}, config=small_cfg)
    r = view.refresh(spark)
    t = TranscriptTable.load(root)
    assert view_state(view, spark) == oracle_state(t, spark)

    delete_where(spark, root, "conv_id = 'c2'", config=small_cfg)
    view.refresh(spark)
    t = TranscriptTable.load(root)
    state = view_state(view, spark)
    assert state == oracle_state(t, spark)
    assert "c2" not in state
