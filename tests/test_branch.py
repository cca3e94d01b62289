"""Write-audit-publish staging branches (table/branch.py): staged commits
are invisible to main until a single atomic fast-forward publish; publish
is refused when main advanced (strict FF) or the branch rolled back; live
branches pin their files against expire_snapshots; drop + expire GCs the
staged files."""

import glob
import os
from dataclasses import replace

import pandas as pd
import pytest

from sfr_ingest_pipeline_spark.operators.merge import apply_batch
from sfr_ingest_pipeline_spark.table.branch import (
    branch_root,
    create_branch,
    drop_branch,
    is_branch_root,
    list_branches,
    publish_branch,
)
from sfr_ingest_pipeline_spark.table.maintenance import compact, expire_snapshots
from sfr_ingest_pipeline_spark.table.transcript_table import (
    CommitConflictError,
    TranscriptTable,
)


def _build(spark, tmp_path, segments, cfg, n_batches, name="t"):
    root = str(tmp_path / name)
    TranscriptTable.create(root, n_buckets=cfg.n_buckets)
    for i in range(n_batches):
        apply_batch(spark, root, spark.createDataFrame(segments[i]), i, config=cfg)
    return root


def _pdf(spark, root):
    return (
        TranscriptTable.load(root).scan(spark)
        .orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True)
    )


def test_wap_stage_publish(spark, tmp_path, segments_basic, small_cfg):
    """The WAP happy path: stage two batches on a branch, audit, publish.
    Main is byte-identical until publish; after publish it equals a table
    that replayed all segments directly, batch marker included."""
    root = _build(spark, tmp_path, segments_basic, small_cfg, 2)
    main_before = _pdf(spark, root)
    marker_before = TranscriptTable.load(root).last_batch_id

    broot = create_branch(root, "audit")
    assert is_branch_root(broot) and not is_branch_root(root)
    for i in (2, 3):
        res = apply_batch(
            spark, broot, spark.createDataFrame(segments_basic[i]), i,
            config=small_cfg,
        )
        assert res.committed

    # invisibility: main's head, marker, and rows are untouched by staging
    assert TranscriptTable.load(root).last_batch_id == marker_before
    pd.testing.assert_frame_equal(main_before, _pdf(spark, root))
    # the branch reads its staged state through the same scan surface
    staged = _pdf(spark, broot)
    assert len(staged) != len(main_before) or not staged.equals(main_before)

    info = list_branches(root)["audit"]
    assert info["head_snapshot_id"] > info["fork_snapshot_id"]

    published = publish_branch(root, "audit", drop=True)
    assert published.last_batch_id == 3
    assert "audit" not in list_branches(root)
    # one atomic commit: published rows == staged rows == direct replay
    pd.testing.assert_frame_equal(staged, _pdf(spark, root))
    direct = _build(spark, tmp_path, segments_basic, small_cfg, 4, name="direct")
    pd.testing.assert_frame_equal(_pdf(spark, direct), _pdf(spark, root))
    # marker published atomically: re-delivering a staged batch to MAIN skips
    res = apply_batch(
        spark, root, spark.createDataFrame(segments_basic[2]), 2, config=small_cfg
    )
    assert res.skipped


def test_publish_is_strict_fast_forward(spark, tmp_path, segments_basic, small_cfg):
    root = _build(spark, tmp_path, segments_basic, small_cfg, 2)
    broot = create_branch(root, "ff")
    apply_batch(spark, broot, spark.createDataFrame(segments_basic[2]), 2,
                config=small_cfg)
    # main advances past the fork point (a racing direct ingest)
    apply_batch(spark, root, spark.createDataFrame(segments_basic[3]), 3,
                config=small_cfg)
    with pytest.raises(CommitConflictError, match="fork point"):
        publish_branch(root, "ff")
    # the branch survives the refusal for re-staging
    assert "ff" in list_branches(root)


def test_publish_noop_and_name_claims(spark, tmp_path, segments_basic, small_cfg):
    root = _build(spark, tmp_path, segments_basic, small_cfg, 1)
    create_branch(root, "idle")
    head = TranscriptTable.load(root).snapshot.snapshot_id
    out = publish_branch(root, "idle")  # nothing staged
    assert out.snapshot.snapshot_id == head
    with pytest.raises(FileExistsError):
        create_branch(root, "idle")
    with pytest.raises(ValueError, match="invalid branch name"):
        create_branch(root, "../escape")
    drop_branch(root, "idle")
    with pytest.raises(FileNotFoundError):
        drop_branch(root, "idle")


def test_live_branch_pins_files_against_expire(
    spark, tmp_path, segments_basic, small_cfg
):
    """expire_snapshots on main must retain every file a live branch
    references — both its staged commits and its fork-history files —
    regardless of keep_last; dropping the branch releases them."""
    cfg = replace(small_cfg, compact_delta_files=100)
    root = _build(spark, tmp_path, segments_basic, cfg, 2)
    broot = create_branch(root, "longaudit")
    apply_batch(spark, broot, spark.createDataFrame(segments_basic[2]), 2,
                config=cfg)
    staged_state = _pdf(spark, broot)

    # churn main well past keep_last=1: compact rewrites every bucket
    compact(spark, root, config=cfg)
    compact(spark, root, config=cfg)
    expire_snapshots(root, keep_last=1)

    # the branch still reads its exact staged state (fork files retained)
    pd.testing.assert_frame_equal(staged_state, _pdf(spark, broot))
    # ...and a publish is correctly refused (main advanced), not corrupted
    with pytest.raises(CommitConflictError, match="fork point"):
        publish_branch(root, "longaudit")

    n_before = len(glob.glob(os.path.join(root, "data", "**", "*.parquet"),
                             recursive=True))
    drop_branch(root, "longaudit")
    stats = expire_snapshots(root, keep_last=1)
    n_after = len(glob.glob(os.path.join(root, "data", "**", "*.parquet"),
                            recursive=True))
    assert stats["dropped_data_files"] > 0 and n_after < n_before
    # main unharmed
    assert len(_pdf(spark, root)) > 0


def test_expire_refused_on_branch_root(spark, tmp_path, segments_basic, small_cfg):
    root = _build(spark, tmp_path, segments_basic, small_cfg, 1)
    broot = create_branch(root, "noexpire")
    with pytest.raises(ValueError, match="staging branch root"):
        expire_snapshots(broot, keep_last=1)
    assert broot == branch_root(root, "noexpire")


def test_branch_rollback_to_fork_publishes_state_exact(
    spark, tmp_path, segments_basic, small_cfg
):
    """A branch that staged work and then rolled back to its fork point
    publishes a state-identical commit: rows and batch marker match main's
    pre-branch state (rollback adopts the fork marker), so the staged batch
    counts as un-applied again and re-delivers to main normally."""
    root = _build(spark, tmp_path, segments_basic, small_cfg, 2)
    before = _pdf(spark, root)
    marker = TranscriptTable.load(root).last_batch_id
    broot = create_branch(root, "rb")
    apply_batch(spark, broot, spark.createDataFrame(segments_basic[2]), 2,
                config=small_cfg)
    bt = TranscriptTable.load(broot)
    bt.rollback(TranscriptTable.load(root).snapshot.snapshot_id)
    out = publish_branch(root, "rb", drop=True)
    assert out.last_batch_id == marker
    pd.testing.assert_frame_equal(before, _pdf(spark, root))
    res = apply_batch(spark, root, spark.createDataFrame(segments_basic[2]), 2,
                      config=small_cfg)
    assert res.committed and not res.skipped


def test_publish_collides_with_concurrent_main_commit(
    spark, tmp_path, segments_basic, small_cfg
):
    """The publish snapshot occupies fork_id+1 — the exact id slot any
    concurrent main writer must CAS — so a writer holding a pre-publish
    handle cannot land an un-contested commit that readers would silently
    orphan: its CAS collides, it rebases onto the publish, and BOTH commits
    end up on the lineage."""
    root = _build(spark, tmp_path, segments_basic, small_cfg, 2)
    fork_id = TranscriptTable.load(root).snapshot.snapshot_id
    stale = TranscriptTable.load(root)  # pre-publish writer handle

    broot = create_branch(root, "race")
    for i in (2, 3):
        apply_batch(spark, broot, spark.createDataFrame(segments_basic[i]), i,
                    config=small_cfg)
    published = publish_branch(root, "race", drop=True)
    # the contested slot, not a jumped-ahead id
    assert published.snapshot.snapshot_id == fork_id + 1
    ids = TranscriptTable._ids_on_disk(root)
    assert ids == list(range(1, fork_id + 2))  # contiguous, no gap

    # the stale writer commits through its pre-publish handle: the CAS at
    # fork_id+1 must collide with the publish and rebase on top of it
    after = stale.commit(set(), [], {"batch_id": stale.last_batch_id})
    assert after.snapshot.snapshot_id == published.snapshot.snapshot_id + 1
    assert after.snapshot.parent_id == published.snapshot.snapshot_id
    # published rows survived the race
    assert published.last_batch_id == 3
    assert len(_pdf(spark, root)) > 0


def test_publish_stamp_floor_keeps_commit_recency_monotone(
    spark, tmp_path, segments_basic, small_cfg
):
    """Branch commits stamp their data dirs with branch snapshot ids that
    run PAST main's head; the publish records a commit_seq_floor so main's
    post-publish writes stamp strictly above every staged file — commit
    recency (the LWW final tie-break) must order them newer."""
    import re

    root = _build(spark, tmp_path, segments_basic, small_cfg, 2)
    broot = create_branch(root, "floor")
    for i in (2, 3):
        apply_batch(spark, broot, spark.createDataFrame(segments_basic[i]), i,
                    config=small_cfg)
    branch_stamps = {
        int(m.group(1))
        for d in os.listdir(os.path.join(root, "data"))
        if (m := re.match(r"snap-(\d+)-[0-9a-f]+$", d))
    }
    published = publish_branch(root, "floor", drop=True)
    floor = published.snapshot.properties.get("commit_seq_floor")
    assert floor is not None and floor >= max(branch_stamps)
    assert published.next_commit_seq == floor + 1

    # a fresh main write stamps above every pre-existing dir
    apply_batch(spark, root, spark.createDataFrame(segments_basic[3]), 4,
                config=small_cfg)
    all_stamps = [
        int(m.group(1))
        for d in os.listdir(os.path.join(root, "data"))
        if (m := re.match(r"snap-(\d+)-[0-9a-f]+$", d))
    ]
    assert len(all_stamps) == len(set(all_stamps))  # no stamp collisions
    assert max(all_stamps) > max(branch_stamps)
