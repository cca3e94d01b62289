"""Optimistic-concurrency commit (VERDICT r3 item 2): two interleaved
committers either both land (disjoint buckets — loser rebases onto the
winner) or the loser aborts with CommitConflictError; a commit is never
silently orphaned and the batch marker never regresses."""

from __future__ import annotations

import threading
from dataclasses import replace

import pytest

from sfr_ingest_pipeline_spark.table.transcript_table import (
    CommitConflictError,
    DataFileInfo,
    TranscriptTable,
)


def _f(path: str, bucket: int, rows: int = 10) -> DataFileInfo:
    return DataFileInfo(path=path, bucket=bucket, rows=rows, live_rows=rows)


def test_disjoint_ingest_and_compact_both_land(tmp_path):
    """Ingest (marker-advancing delta append, bucket 1) wins the race;
    stale-parent maintenance (rewrite of bucket 0, marker carry-forward)
    rebases: both effects land, marker adopted from the winner."""
    root = str(tmp_path / "t")
    t = TranscriptTable.create(root, n_buckets=4)
    t = t.commit({0}, [_f("data/a.parquet", 0)], {"batch_id": 0})

    ingest_view = TranscriptTable.load(root)
    maint_view = TranscriptTable.load(root)  # same (stale-to-be) parent

    ingest_view.commit({1}, [_f("data/b.parquet", 1)], {"batch_id": 1})

    props = dict(maint_view.snapshot.properties)  # carries batch_id 0
    props["maintenance"] = {"op": "compact", "buckets": [0]}
    rebased = maint_view.commit({0}, [_f("data/a_compacted.parquet", 0)], props)

    assert rebased.snapshot.snapshot_id == 4  # landed AFTER the ingest commit
    cur = TranscriptTable.load(root)
    assert cur.snapshot.snapshot_id == 4
    assert cur.last_batch_id == 1  # winner's marker adopted, never regressed
    paths = {f.path for f in cur.files}
    assert paths == {"data/b.parquet", "data/a_compacted.parquet"}


def test_overlapping_rewrite_conflicts_cleanly(tmp_path):
    """Maintenance racing an ingest INTO THE SAME BUCKET must abort: its
    rewrite was computed from files the winner replaced/extended."""
    root = str(tmp_path / "t")
    t = TranscriptTable.create(root, n_buckets=4)
    t = t.commit({0}, [_f("data/a.parquet", 0)], {"batch_id": 0})

    maint_view = TranscriptTable.load(root)
    # winner: MoR delta APPEND into bucket 0 (empty replace set)
    TranscriptTable.load(root).commit(
        set(), [_f("data/a_delta.parquet", 0, 3)], {"batch_id": 1}
    )
    props = dict(maint_view.snapshot.properties)
    with pytest.raises(CommitConflictError, match="bucket 0 was rewritten"):
        maint_view.commit({0}, [_f("data/a2.parquet", 0)], props)
    # the winner's state is intact
    cur = TranscriptTable.load(root)
    assert {f.path for f in cur.files} == {"data/a.parquet", "data/a_delta.parquet"}
    assert cur.last_batch_id == 1


def test_concurrent_same_batch_skips_idempotently(tmp_path):
    """Two replay drivers applying the same batch id: the CAS loser sees the
    marker already advanced and reports an idempotent skip, not a failure
    and never a double-apply (operators/merge._commit_or_skip)."""
    from sfr_ingest_pipeline_spark.operators.merge import _commit_or_skip

    root = str(tmp_path / "t")
    t = TranscriptTable.create(root, n_buckets=4)
    t = t.commit({0}, [_f("data/base.parquet", 0)], {"batch_id": 0})

    loser_view = TranscriptTable.load(root)
    TranscriptTable.load(root).commit(
        {1}, [_f("data/winner.parquet", 1)], {"batch_id": 1}
    )
    table, skipped = _commit_or_skip(
        loser_view, 1, {1}, [_f("data/loser.parquet", 1)], {"batch_id": 1}
    )
    assert skipped
    cur = TranscriptTable.load(root)
    assert "data/loser.parquet" not in {f.path for f in cur.files}
    assert cur.last_batch_id == 1


def test_layout_and_schema_changes_conflict(tmp_path):
    """Rebase refuses when the winner changed the bucket layout or schema —
    the loser's files mean nothing under the new layout."""
    from pyspark.sql import types as T

    root = str(tmp_path / "t")
    t = TranscriptTable.create(root, n_buckets=2)
    t = t.commit({0}, [_f("data/a.parquet", 0)], {"batch_id": 0})

    stale = TranscriptTable.load(root)
    # winner: full rebucket 2 -> 4
    TranscriptTable.load(root).commit(
        {0, 1}, [_f("data/r0.parquet", 0), _f("data/r3.parquet", 3)],
        dict(stale.snapshot.properties), n_buckets=4,
    )
    with pytest.raises(CommitConflictError, match="bucket layout changed"):
        stale.commit({1}, [_f("data/x.parquet", 1)],
                     dict(stale.snapshot.properties))

    root2 = str(tmp_path / "t2")
    t2 = TranscriptTable.create(root2, n_buckets=2)
    stale2 = TranscriptTable.load(root2)
    widened = T.StructType(
        list(t2.schema.fields) + [T.StructField("extra", T.StringType(), True)]
    )
    TranscriptTable.load(root2).commit(
        set(), [], {"batch_id": 0}, schema=widened
    )
    with pytest.raises(CommitConflictError, match="schema evolved"):
        stale2.commit({0}, [_f("data/y.parquet", 0)], {"batch_id": 0})


def test_create_race_adopts_winner(tmp_path):
    root = str(tmp_path / "t")
    TranscriptTable.create(root)
    with pytest.raises(FileExistsError):
        TranscriptTable.create(root)
    assert TranscriptTable.load_or_create(root).snapshot.snapshot_id == 1


def test_threaded_ingest_vs_compact_converges_exact(
    spark, tmp_path, binlog_basic, small_cfg
):
    """End-to-end race: a MoR ingest replay and a compaction loop hammer the
    same table from two threads. Every batch must land exactly once (the
    ingest retries the recompute on a bucket-overlap conflict, exactly as a
    restarted streaming driver would), compaction conflicts abort cleanly,
    and the converged table verifies exact against the binlog."""
    from sfr_ingest_pipeline_spark.operators.merge import apply_batch
    from sfr_ingest_pipeline_spark.oracle import load_binlog_pandas
    from sfr_ingest_pipeline_spark.table.maintenance import (
        compact,
        verify_against_binlog,
    )

    binlog, _ = binlog_basic
    cfg = replace(small_cfg, compact_delta_files=10_000)
    root = str(tmp_path / "t")
    TranscriptTable.create(root, n_buckets=cfg.n_buckets)
    segments = load_binlog_pandas(binlog)

    stop = threading.Event()
    compact_outcomes = {"ok": 0, "conflict": 0}
    errors: list[BaseException] = []

    def maintenance_loop():
        while not stop.is_set():
            try:
                compact(spark, root, config=cfg)
                compact_outcomes["ok"] += 1
            except CommitConflictError:
                compact_outcomes["conflict"] += 1
            except BaseException as e:  # noqa: BLE001 - surfaced below
                errors.append(e)
                return
            stop.wait(0.2)  # let the ingest thread win some races

    worker = threading.Thread(target=maintenance_loop, daemon=True)
    worker.start()
    try:
        for i, seg in enumerate(segments):
            df = spark.createDataFrame(seg)
            for _ in range(20):
                try:
                    res = apply_batch(spark, root, df, i, config=cfg)
                except CommitConflictError:
                    continue  # restarted-driver semantics: recompute
                if res.committed or res.skipped:
                    break
            else:
                raise AssertionError(f"batch {i} never landed")
    finally:
        stop.set()
        worker.join(timeout=300)
    assert not errors, errors

    cur = TranscriptTable.load(root)
    assert cur.last_batch_id == len(segments) - 1
    report = verify_against_binlog(spark, root, binlog, config=cfg)
    assert report["ok"], report


def test_multiwriter_stress_invariants(tmp_path):
    """4 writers x 30 metadata commits each hammer one table from threads
    (2 ingest threads advancing disjoint batch-id ranges, 2 maintenance
    threads rewriting random buckets). Protocol invariants afterwards:
    snapshot ids contiguous, exactly one writer won each id, the batch
    marker never regresses along the history, and the final file state is
    consistent (every bucket's files come from a single commit's replace
    or append lineage — no resurrected files)."""
    import json
    import os
    import random

    root = str(tmp_path / "t")
    t = TranscriptTable.create(root, n_buckets=8)
    t.commit(
        {b for b in range(8)},
        [_f(f"data/base{b}.parquet", b) for b in range(8)],
        {"batch_id": -1},
    )

    outcomes = {"ok": 0, "conflict": 0}
    lock = threading.Lock()
    errors: list[BaseException] = []

    def ingest_worker(wid: int):
        rng = random.Random(wid)
        try:
            for i in range(30):
                batch = wid * 1000 + i  # per-writer monotone batch ids
                for _ in range(40):
                    view = TranscriptTable.load(root)
                    b = rng.randrange(8)
                    props = {"batch_id": max(batch,
                                             view.last_batch_id or -1)}
                    try:
                        view.commit(
                            set(),
                            [_f(f"data/w{wid}_i{i}_{uuid_hex(rng)}.parquet", b, 1)],
                            props,
                        )
                        with lock:
                            outcomes["ok"] += 1
                        break
                    except CommitConflictError:
                        with lock:
                            outcomes["conflict"] += 1
                        continue
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    def maint_worker(wid: int):
        rng = random.Random(100 + wid)
        try:
            for i in range(30):
                for _ in range(40):
                    view = TranscriptTable.load(root)
                    b = rng.randrange(8)
                    existing = view.files_in_buckets({b})
                    props = dict(view.snapshot.properties)
                    props["maintenance"] = {"op": "compact", "buckets": [b]}
                    try:
                        view.commit(
                            {b},
                            [_f(f"data/m{wid}_c{i}_{uuid_hex(rng)}.parquet",
                                b, sum(f.rows for f in existing) or 1)],
                            props,
                        )
                        with lock:
                            outcomes["ok"] += 1
                        break
                    except CommitConflictError:
                        with lock:
                            outcomes["conflict"] += 1
                        continue
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    def uuid_hex(rng):
        return "".join(rng.choice("0123456789abcdef") for _ in range(8))

    threads = [
        threading.Thread(target=ingest_worker, args=(1,)),
        threading.Thread(target=ingest_worker, args=(2,)),
        threading.Thread(target=maint_worker, args=(1,)),
        threading.Thread(target=maint_worker, args=(2,)),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert not errors, errors
    assert outcomes["ok"] == 4 * 30, outcomes  # every commit landed eventually

    cur = TranscriptTable.load(root)
    ids = cur._snapshot_ids_on_disk()
    # contiguous ids, one winner each (CAS: no id written twice)
    assert ids == list(range(1, ids[-1] + 1))
    assert cur.snapshot.snapshot_id == ids[-1]
    # batch marker never regresses along the committed history
    markers = []
    for s in cur.history():
        m = s.properties.get("batch_id")
        markers.append(-10 if m is None else m)
    assert markers == sorted(markers), "batch marker regressed"
    # file-state consistency: every referenced file entry is unique per
    # bucket and its bucket field matches its manifest slot
    seen_paths = set()
    for f in cur.files:
        assert f.path not in seen_paths, f"duplicate file ref {f.path}"
        seen_paths.add(f.path)
