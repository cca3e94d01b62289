"""Chained CDC replication (table/sync.py): a replica maintained purely
from the source table's changelog must converge to the source's exact
state — logical columns AND winning event_seq per key — across inserts,
updates, deletes, crash-retry, schema evolution, GC'd history, and a
second cascade hop (SURVEY.md §2 S7/T5/T6: the output table of one
pipeline is the input of the next)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sfr_ingest_pipeline_spark.config import EngineConfig
from sfr_ingest_pipeline_spark.operators.merge import apply_batch
from sfr_ingest_pipeline_spark.streaming.replay import replay_stream
from sfr_ingest_pipeline_spark.table.sync import sync_table, verify_replica
from sfr_ingest_pipeline_spark.table.transcript_table import TranscriptTable


def _replay(spark, binlog, root, cfg, **kw):
    return replay_stream(
        spark, binlog, root, checkpoint_dir=f"{root}-ckpt", config=cfg, **kw
    )


def _stage(binlog: str, stage_dir: str, upto: int | None = None) -> str:
    """Copy the first ``upto`` binlog segments (all if None) into
    ``stage_dir`` — the file stream picks up later waves incrementally."""
    import shutil

    os.makedirs(stage_dir, exist_ok=True)
    segs = sorted(f for f in os.listdir(binlog) if f.endswith(".parquet"))
    for f in segs[:upto]:
        if not os.path.exists(os.path.join(stage_dir, f)):
            shutil.copy(os.path.join(binlog, f), os.path.join(stage_dir, f))
    return stage_dir


@pytest.fixture(scope="module")
def synced_pair(spark, binlog_basic, tmp_path_factory, small_cfg):
    """Source replayed in 2 waves with a sync after each; returns
    (src_root, dst_root)."""
    d = tmp_path_factory.mktemp("sync_pair")
    src, dst, wal = str(d / "src"), str(d / "dst"), str(d / "wal")
    binlog, _ = binlog_basic
    _replay(spark, _stage(binlog, wal, 3), src, small_cfg,
            max_files_per_trigger=2)
    r1 = sync_table(spark, src, dst, config=small_cfg)
    assert r1["bootstrap"] is not None
    _replay(spark, _stage(binlog, wal), src, small_cfg)  # remaining segments
    r2 = sync_table(spark, src, dst, config=small_cfg)
    assert r2["bootstrap"] is None and len(r2["spans"]) >= 1
    return src, dst


def test_replica_converges_exactly(spark, synced_pair):
    src, dst = synced_pair
    rep = verify_replica(spark, src, dst)
    assert rep["ok"], rep
    assert rep["src_rows"] > 0


def test_resync_is_idempotent_noop(spark, synced_pair, small_cfg):
    src, dst = synced_pair
    before = TranscriptTable.load(dst).snapshot.snapshot_id
    r = sync_table(spark, src, dst, config=small_cfg)
    assert r["spans"] == [] and r["bootstrap"] is None
    assert TranscriptTable.load(dst).snapshot.snapshot_id == before


def test_crash_between_apply_and_cursor_commit(
    spark, binlog_basic, tmp_path, small_cfg, monkeypatch
):
    """Cursor commit crashes after the span applied: the re-run re-polls
    the same span, apply_batch skips it by batch-id, and the replica
    still converges with no double effects."""
    from sfr_ingest_pipeline_spark.streaming import tail as tail_mod

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    wal = str(tmp_path / "wal")
    binlog, _ = binlog_basic
    _replay(spark, _stage(binlog, wal, 3), src, small_cfg)
    sync_table(spark, src, dst, config=small_cfg)
    _replay(spark, _stage(binlog, wal), src, small_cfg)

    class Boom(RuntimeError):
        pass

    orig = tail_mod.ChangeBatch.commit

    def crash(self):
        raise Boom("crash before cursor advance")

    monkeypatch.setattr(tail_mod.ChangeBatch, "commit", crash)
    with pytest.raises(Boom):
        sync_table(spark, src, dst, config=small_cfg)
    monkeypatch.setattr(tail_mod.ChangeBatch, "commit", orig)

    r = sync_table(spark, src, dst, config=small_cfg)
    assert len(r["spans"]) == 1
    assert r["spans"][0]["skipped"] is True  # idempotent re-apply
    assert verify_replica(spark, src, dst)["ok"]


def test_bootstrap_after_source_history_expired(
    spark, binlog_basic, tmp_path, small_cfg
):
    """A replica created AFTER the source GC'd its early snapshots must
    still converge: bootstrap copies state, the tail covers the rest."""
    from sfr_ingest_pipeline_spark.table.maintenance import expire_snapshots

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    wal = str(tmp_path / "wal")
    binlog, _ = binlog_basic
    _replay(spark, _stage(binlog, wal, 3), src, small_cfg,
            max_files_per_trigger=1)
    expire_snapshots(src, keep_last=1)
    sync_table(spark, src, dst, config=small_cfg)
    _replay(spark, _stage(binlog, wal), src, small_cfg)
    sync_table(spark, src, dst, config=small_cfg)
    assert verify_replica(spark, src, dst)["ok"]


def test_schema_evolution_propagates(
    spark, binlog_evolving, tmp_path, small_cfg
):
    """tool_meta appears mid-binlog: the replica's schema widens through
    the sync path and values match."""
    from sfr_ingest_pipeline_spark.schema import CHANGE_EVENT_SCHEMA_V2

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    wal = str(tmp_path / "wal")
    binlog, _ = binlog_evolving
    # wave 1 = v1-schema segments only; tool_meta arrives in wave 2 (the
    # restarted reader declares the v2 schema, as in test_streaming.py)
    _replay(spark, _stage(binlog, wal, 2), src, small_cfg)
    sync_table(spark, src, dst, config=small_cfg)
    _replay(spark, _stage(binlog, wal), src, small_cfg,
            event_schema=CHANGE_EVENT_SCHEMA_V2)
    sync_table(spark, src, dst, config=small_cfg)
    src_t, dst_t = TranscriptTable.load(src), TranscriptTable.load(dst)
    assert "tool_meta" in [f.name for f in dst_t.schema.fields]
    assert src_t.schema.jsonValue() == dst_t.schema.jsonValue()
    assert verify_replica(spark, src, dst)["ok"]


def test_cascade_two_hops(spark, binlog_basic, tmp_path, small_cfg):
    """A -> B -> C: the replica of a replica equals the origin."""
    a, b, c = (str(tmp_path / x) for x in "abc")
    wal = str(tmp_path / "wal")
    binlog, _ = binlog_basic
    _replay(spark, _stage(binlog, wal, 3), a, small_cfg)
    sync_table(spark, a, b, config=small_cfg)
    sync_table(spark, b, c, config=small_cfg)
    _replay(spark, _stage(binlog, wal), a, small_cfg)
    sync_table(spark, a, b, config=small_cfg)
    sync_table(spark, b, c, config=small_cfg)
    assert verify_replica(spark, a, b)["ok"]
    assert verify_replica(spark, b, c)["ok"]
    assert verify_replica(spark, a, c)["ok"]


def test_rollback_in_span_syncs_as_deletes(spark, tmp_path, small_cfg):
    """A source rollback inside a sync span: keys that logically vanished
    (no tombstone exists — the fallback-candidate changelog path) must be
    deleted on the replica via the synthetic old-order+1 delete."""
    import pandas as pd

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")

    def ev(op, conv, turn, seq, text=None):
        return {"op": op, "conv_id": conv, "turn_idx": turn, "role": "user",
                "text": text, "tool": None,
                "ts": pd.Timestamp("2026-01-01") + pd.Timedelta(seconds=seq),
                "event_seq": seq}

    b1 = pd.DataFrame([ev("I", "c1", 0, 1, "keep"), ev("I", "c1", 1, 2, "v1")])
    b2 = pd.DataFrame([ev("U", "c1", 1, 3, "v2"), ev("I", "c2", 0, 4, "new")])
    cfg = small_cfg
    TranscriptTable.create(src, n_buckets=cfg.n_buckets)
    sdf1 = spark.createDataFrame(b1)
    sdf2 = spark.createDataFrame(b2)
    apply_batch(spark, src, sdf1, batch_id=1, config=cfg)
    sync_table(spark, src, dst, config=cfg)  # replica at post-b1 state

    apply_batch(spark, src, sdf2, batch_id=2, config=cfg)
    # roll the SOURCE back: b2's rows logically vanish with no tombstone
    TranscriptTable.load(src).rollback(
        TranscriptTable.load(src).snapshot.snapshot_id - 1
    )
    sync_table(spark, src, dst, config=cfg)
    rep = verify_replica(spark, src, dst, check_orders=False)
    assert rep["ok"], rep
    live = (
        TranscriptTable.load(dst).scan(spark)
        .select("conv_id", "turn_idx", "text")
        .orderBy("conv_id", "turn_idx").collect()
    )
    assert [(r.conv_id, r.turn_idx, r.text) for r in live] == [
        ("c1", 0, "keep"), ("c1", 1, "v1"),
    ]


def test_coalesce_stale_fill_replicates(spark, tmp_path, small_cfg):
    """A coalesce-mode source fills a null column from a STALE event
    without advancing the key's winning order; the changelog re-emits the
    key at that unchanged order and the replica must apply it (batch wins
    the exact-order tie) instead of silently dropping the fill."""
    from dataclasses import replace

    import pandas as pd

    cfg = replace(small_cfg, column_merge="coalesce", compact_delta_files=8)
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    TranscriptTable.create(src, n_buckets=cfg.n_buckets)

    b1 = pd.DataFrame([{
        "op": "I", "conv_id": "c0", "turn_idx": 0, "role": "user",
        "text": "winner", "tool": None,
        "ts": pd.Timestamp("2026-01-01 00:00:10"), "event_seq": 10,
    }])
    apply_batch(spark, src, spark.createDataFrame(b1), 1, config=cfg)
    sync_table(spark, src, dst, config=cfg)
    assert verify_replica(spark, src, dst)["ok"]

    # stale event (lower order) carries ONLY the tool column: coalesce
    # fills the null without moving the winning (ts, event_seq)
    b2 = pd.DataFrame([{
        "op": "U", "conv_id": "c0", "turn_idx": 0, "role": None,
        "text": None, "tool": "calculator",
        "ts": pd.Timestamp("2026-01-01 00:00:05"), "event_seq": 5,
    }])
    apply_batch(spark, src, spark.createDataFrame(b2), 2, config=cfg)
    src_state = TranscriptTable.load(src).scan(spark).collect()
    assert [(r.text, r.tool) for r in src_state] == [("winner", "calculator")]

    r = sync_table(spark, src, dst, config=cfg)
    assert len(r["spans"]) >= 1
    rep = verify_replica(spark, src, dst)
    assert rep["ok"], rep
    dst_state = TranscriptTable.load(dst).scan(spark).collect()
    assert [(r.text, r.tool) for r in dst_state] == [("winner", "calculator")]
    # re-running the sync stays convergent (value-idempotent ties)
    sync_table(spark, src, dst, config=cfg)
    assert verify_replica(spark, src, dst)["ok"]


@pytest.mark.parametrize("seed", [5, 23])
def test_sync_coalesce_random_schedule_converges(spark, tmp_path, small_cfg, seed):
    """Randomized apply/sync interleaving over a coalesce-mode source with
    partial (single-column) updates delivered out of order: the replica
    converges verify-exact at the end, fills included."""
    import random

    import pandas as pd

    from dataclasses import replace

    rng = random.Random(seed)
    cfg = replace(small_cfg, column_merge="coalesce", compact_delta_files=8)
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    TranscriptTable.create(src, n_buckets=cfg.n_buckets)

    events = []
    for seq in range(rng.randint(40, 80)):
        op = rng.choice(["I", "U", "U", "U", "D"])
        partial = op == "U" and rng.random() < 0.6
        events.append({
            "op": op, "conv_id": f"c{rng.randint(0, 5)}",
            "turn_idx": rng.randint(0, 3),
            "role": None if op == "D" or partial else "user",
            "text": None if op == "D" or (partial and rng.random() < 0.5)
            else f"t{seq}",
            "tool": f"tool{seq}" if partial else None,
            "ts": pd.Timestamp("2026-01-01") + pd.Timedelta(seconds=seq),
            "event_seq": seq,
        })
    # out-of-order delivery: shuffle events across batches so stale fills
    # genuinely cross batch boundaries
    rng.shuffle(events)
    k = 6
    size = (len(events) + k - 1) // k
    batches = [events[i:i + size] for i in range(0, len(events), size)]

    for i, batch in enumerate(batches):
        apply_batch(spark, src, spark.createDataFrame(pd.DataFrame(batch)),
                    batch_id=i + 1, config=cfg)
        if rng.random() < 0.5:
            sync_table(spark, src, dst, config=cfg)
    sync_table(spark, src, dst, config=cfg)
    rep = verify_replica(spark, src, dst)
    assert rep["ok"], (seed, rep)


def test_cli_sync_and_verify(tmp_path, binlog_basic):
    """CLI surface: sync src->dst, JSON contract, verify-replica gate."""
    import json
    import subprocess
    import sys

    binlog, _ = binlog_basic
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")

    def run(*args):
        p = subprocess.run(
            [sys.executable, "-m", "sfr_ingest_pipeline_spark.cli", *args],
            capture_output=True, text=True, cwd="/root/repo",
        )
        assert p.returncode == 0, p.stderr[-2000:]
        return json.loads(p.stdout.strip().splitlines()[-1])

    run("replay", "--binlog", binlog, "--table", src,
        "--checkpoint", str(tmp_path / "ckpt"), "--master", "local[4]")
    out = run("sync", "--src", src, "--dst", dst, "--master", "local[4]")
    assert out["bootstrap"] is not None
    rep = run("sync", "--src", src, "--dst", dst, "--verify",
              "--master", "local[4]")
    assert rep["verify"]["ok"] is True


@pytest.mark.parametrize("seed", [3, 17, 99])
def test_sync_random_schedule_converges(spark, tmp_path, small_cfg, seed):
    """Randomized schedule of (apply batch | sync | one mid-run rollback):
    whatever the interleaving, the final sync converges the replica
    exactly (orders included). ts increases with event_seq so the
    documented synthetic-delete order caveat cannot trigger."""
    import random

    import pandas as pd

    rng = random.Random(seed)
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    TranscriptTable.create(src, n_buckets=small_cfg.n_buckets)

    events = []
    for seq in range(rng.randint(40, 80)):
        op = rng.choice(["I", "U", "U", "D"])
        events.append({
            "op": op, "conv_id": f"c{rng.randint(0, 5)}",
            "turn_idx": rng.randint(0, 3),
            "role": None if op == "D" else "user",
            "text": None if op == "D" else f"t{seq}", "tool": None,
            "ts": pd.Timestamp("2026-01-01") + pd.Timedelta(seconds=seq),
            "event_seq": seq,
        })
    k = 5
    size = (len(events) + k - 1) // k
    batches = [events[i:i + size] for i in range(0, len(events), size)]

    rolled_back = False
    for i, batch in enumerate(batches):
        apply_batch(spark, src, spark.createDataFrame(pd.DataFrame(batch)),
                    batch_id=i + 1, config=small_cfg)
        if rng.random() < 0.5:
            sync_table(spark, src, dst, config=small_cfg)
        if not rolled_back and i == len(batches) // 2:
            t = TranscriptTable.load(src)
            t.rollback(t.snapshot.snapshot_id - 1)
            rolled_back = True
            # the rolled-back batch re-applies (marker reopened)
            apply_batch(spark, src,
                        spark.createDataFrame(pd.DataFrame(batch)),
                        batch_id=i + 1, config=small_cfg)
    sync_table(spark, src, dst, config=small_cfg)
    rep = verify_replica(spark, src, dst)
    assert rep["ok"], (seed, rep)


def test_follower_kill_midspan_and_restart_reconverges(tmp_path, binlog_basic):
    """`cli sync --follow` killed (SIGKILL) while spans are in flight must
    reconverge exactly on restart: the cursor only advances after a span's
    apply, and apply_batch is idempotent per span end, so wherever the kill
    lands — mid-apply, between apply and cursor-commit, or idle — a fresh
    sync replays at most one span as a no-op and converges."""
    import json
    import signal
    import subprocess
    import sys
    import time as _time

    binlog, _ = binlog_basic
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    wal = str(tmp_path / "wal")

    def run(*args):
        p = subprocess.run(
            [sys.executable, "-m", "sfr_ingest_pipeline_spark.cli", *args],
            capture_output=True, text=True, cwd="/root/repo",
        )
        assert p.returncode == 0, p.stderr[-2000:]
        return json.loads(p.stdout.strip().splitlines()[-1])

    _stage(binlog, wal, 2)
    run("replay", "--binlog", wal, "--table", src,
        "--checkpoint", str(tmp_path / "ckpt"), "--master", "local[4]")

    follower = subprocess.Popen(
        [sys.executable, "-m", "sfr_ingest_pipeline_spark.cli", "sync",
         "--src", src, "--dst", dst, "--follow", "--poll-sec", "0.2",
         "--step", "per_commit", "--master", "local[4]"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        cwd="/root/repo",
    )
    try:
        # wait for the first round (bootstrap applied)
        line = follower.stdout.readline()
        assert json.loads(line)["round"] == 1
        # land more source waves while the follower is live, then SIGKILL
        # it quickly — per_commit stepping + 0.2s polling makes an
        # in-flight span overwhelmingly likely
        _stage(binlog, wal)
        run("replay", "--binlog", wal, "--table", src,
            "--checkpoint", str(tmp_path / "ckpt"), "--master", "local[4]")
        _time.sleep(1.0)
        follower.send_signal(signal.SIGKILL)
        follower.wait(timeout=30)
    finally:
        if follower.poll() is None:
            follower.kill()

    # restart: one fresh sync must converge the replica exactly
    rep = run("sync", "--src", src, "--dst", dst, "--verify",
              "--master", "local[4]")
    assert rep["verify"]["ok"] is True, rep
