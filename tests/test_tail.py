"""ChangelogTail (streaming/tail.py): the table as a streaming source —
durable cursor, at-least-once poll/commit, per-commit vs net stepping,
maintenance-commit skipping, and cascade composition (applying every
emitted batch reconstructs the table exactly)."""

from dataclasses import replace as dc_replace

import pandas as pd

from sfr_ingest_pipeline_spark.operators.merge import apply_batch
from sfr_ingest_pipeline_spark.streaming.tail import ChangelogTail
from sfr_ingest_pipeline_spark.table.maintenance import compact, recluster
from sfr_ingest_pipeline_spark.table.transcript_table import TranscriptTable


def ev(op, conv, turn, text, seq):
    return {
        "op": op, "conv_id": conv, "turn_idx": turn, "role": "user",
        "text": text, "tool": None,
        "ts": pd.Timestamp("2026-01-01") + pd.Timedelta(seconds=seq),
        "event_seq": seq,
    }


def _apply(spark, root, cfg, batch_id, rows):
    return apply_batch(spark, root, spark.createDataFrame(pd.DataFrame(rows)),
                       batch_id, config=cfg)


def test_tail_from_now_then_per_commit_steps(spark, tmp_path, small_cfg):
    cfg = dc_replace(small_cfg, compact_delta_files=8)
    root = str(tmp_path / "t")
    TranscriptTable.create(root, n_buckets=cfg.n_buckets)
    _apply(spark, root, cfg, 0, [ev("I", "c1", 0, "a", 1)])
    tail = ChangelogTail(root, str(tmp_path / "cur"), step="per_commit")
    # fresh cursor = tail-from-now: history before attach is not replayed
    assert tail.poll(spark) is None
    # ingest, maintenance, ingest — the tail must emit exactly two batches,
    # each spanning one ingest commit (maintenance collapses into the step)
    _apply(spark, root, cfg, 1, [ev("U", "c1", 0, "a2", 10)])
    compact(spark, root, config=cfg)
    recluster(spark, root, config=cfg, files_per_bucket=2)
    _apply(spark, root, cfg, 2, [ev("I", "c2", 0, "x", 20),
                                 ev("D", "c1", 0, "", 21)])
    b1 = tail.poll(spark)
    got1 = {(r.conv_id, r._change_type, r.text) for r in b1.df.collect()}
    assert got1 == {("c1", "update", "a2")}
    # uncommitted batch re-polls the SAME span (at-least-once)
    b1_again = tail.poll(spark)
    assert (b1_again.from_snapshot_id, b1_again.to_snapshot_id) == (
        b1.from_snapshot_id, b1.to_snapshot_id
    )
    b1.commit()
    b2 = tail.poll(spark)
    got2 = {(r.conv_id, r._change_type, r.text) for r in b2.df.collect()}
    assert got2 == {("c2", "insert", "x"), ("c1", "delete", "a2")}
    b2.commit()
    assert tail.poll(spark) is None


def test_tail_net_span_and_seek_replay(spark, tmp_path, small_cfg):
    cfg = dc_replace(small_cfg, compact_delta_files=8)
    root = str(tmp_path / "t")
    TranscriptTable.create(root, n_buckets=cfg.n_buckets)
    _apply(spark, root, cfg, 0, [ev("I", "c1", 0, "a", 1),
                                 ev("I", "c2", 0, "x", 2)])
    _apply(spark, root, cfg, 1, [ev("D", "c2", 0, "", 10),
                                 ev("I", "c3", 0, "z", 11)])
    tail = ChangelogTail(root, str(tmp_path / "cur"), step="net")
    tail.seek(1)  # replay the whole table from the created snapshot
    batch = tail.poll(spark)
    got = {(r.conv_id, r._change_type, r.text) for r in batch.df.collect()}
    # nets across both commits: c2 insert+delete vanishes
    assert got == {("c1", "insert", "a"), ("c3", "insert", "z")}
    batch.commit()
    assert tail.poll(spark) is None
    # cursor survives a new tail instance (durable restart)
    tail2 = ChangelogTail(root, str(tmp_path / "cur"), step="net")
    assert tail2.cursor() == batch.to_snapshot_id


def test_tail_cascade_reconstructs_table(spark, tmp_path, small_cfg):
    """Bronze -> silver: applying every per-commit batch (insert/update as
    upsert, delete as delete) to a dict replica reproduces the table's
    final state exactly."""
    cfg = dc_replace(small_cfg, compact_delta_files=8)
    root = str(tmp_path / "t")
    TranscriptTable.create(root, n_buckets=cfg.n_buckets)
    tail = ChangelogTail(root, str(tmp_path / "cur"), step="per_commit")
    tail.seek(1)
    replica: dict = {}
    batches = [
        [ev("I", "c1", 0, "a", 1), ev("I", "c1", 1, "b", 2), ev("I", "c2", 0, "x", 3)],
        [ev("U", "c1", 1, "b2", 10), ev("D", "c2", 0, "", 11)],
        [ev("I", "c2", 0, "re-born", 20), ev("U", "c1", 0, "a2", 21)],
    ]
    for i, rows in enumerate(batches):
        _apply(spark, root, cfg, i, rows)
        if i == 1:
            compact(spark, root, config=cfg)
        while (b := tail.poll(spark)) is not None:
            for r in b.df.collect():
                k = (r.conv_id, r.turn_idx)
                if r._change_type == "delete":
                    replica.pop(k)
                else:
                    replica[k] = r.text
            b.commit()
    t = TranscriptTable.load(root)
    table_state = {
        (r.conv_id, r.turn_idx): r.text for r in t.scan(spark).collect()
    }
    assert replica == table_state


def test_sync_documents_from_changelog(spark, tmp_path, small_cfg):
    """Changelog-driven document materialization: after each sync, the view
    equals a full rebuild; an untouched conversation's document version is
    NOT rewritten by later waves; a fully-deleted conversation drops out."""
    from sfr_ingest_pipeline_spark.streaming.materialize import (
        conversation_documents,
        read_documents,
        sync_documents_from_changelog,
    )

    cfg = dc_replace(small_cfg, compact_delta_files=8)
    root = str(tmp_path / "t")
    out = str(tmp_path / "docs")
    TranscriptTable.create(root, n_buckets=cfg.n_buckets)
    tail = ChangelogTail(root, str(tmp_path / "cur"), step="per_commit")
    tail.seek(1)

    _apply(spark, root, cfg, 0, [ev("I", "c1", 0, "a", 1),
                                 ev("I", "c1", 1, "b", 2),
                                 ev("I", "c2", 0, "x", 3)])
    r = sync_documents_from_changelog(spark, tail, root, out)
    assert r["batches"] == 1

    def doc_state():
        return {
            row.conv_id: (row.n_turns, row.document)
            for row in read_documents(spark, out).collect()
        }

    def full_rebuild():
        t = TranscriptTable.load(root)
        return {
            row.conv_id: (row.n_turns, row.document)
            for row in conversation_documents(t.scan(spark)).collect()
        }

    assert doc_state() == full_rebuild()
    import pyspark.sql.functions as F
    versions_c2_before = (
        spark.read.parquet(out).filter(F.col("conv_id") == "c2").count()
    )

    # wave 2 touches only c1 (update) and deletes c2 entirely; adds c3
    _apply(spark, root, cfg, 1, [ev("U", "c1", 1, "b2", 10),
                                 ev("D", "c2", 0, "", 11),
                                 ev("I", "c3", 0, "z", 12)])
    sync_documents_from_changelog(spark, tail, root, out)
    assert doc_state() == full_rebuild()
    assert "c2" not in doc_state()
    # c2's deletion produced exactly one new version (the n_turns=0 marker)
    versions_c2_after = (
        spark.read.parquet(out).filter(F.col("conv_id") == "c2").count()
    )
    assert versions_c2_after == versions_c2_before + 1

    # wave 3 touches nothing the view shows (idempotent re-run: no batches)
    r = sync_documents_from_changelog(spark, tail, root, out)
    assert r == {"batches": 0, "documents_refreshed": 0}


def test_full_resync_uses_semijoin_not_driver_collect(
    spark, tmp_path, small_cfg, monkeypatch
):
    """A seek(1) full resync makes the change span = the whole table; above
    _POINT_PRUNE_LIMIT the sync must switch to a semi-joined scan and never
    collect the span's conv_ids to the driver — output identical to the
    point-pruned path."""
    from sfr_ingest_pipeline_spark.streaming import incremental
    from sfr_ingest_pipeline_spark.streaming.materialize import (
        conversation_documents,
        read_documents,
        sync_documents_from_changelog,
    )

    cfg = dc_replace(small_cfg, compact_delta_files=8)
    root = str(tmp_path / "t")
    TranscriptTable.create(root, n_buckets=cfg.n_buckets)
    evs = []
    for c in range(12):
        evs.append(ev("I", f"c{c}", 0, f"t{c}", c + 1))
        evs.append(ev("I", f"c{c}", 1, f"u{c}", 100 + c))
    _apply(spark, root, cfg, 0, evs)

    # force the big-span path: any span touching >3 convs semi-joins
    monkeypatch.setattr(incremental, "_POINT_PRUNE_LIMIT", 3)
    # code-path assertion: any driver-side materialization of more rows
    # than the limit fails the test
    orig_collect = type(spark.range(1)).collect

    def guarded_collect(self):
        rows = orig_collect(self)
        assert len(rows) <= 3, (
            f"data-sized driver collect of {len(rows)} rows on the "
            "full-resync path"
        )
        return rows

    out = str(tmp_path / "docs")
    tail = ChangelogTail(root, str(tmp_path / "cur"), step="per_commit")
    tail.seek(1)
    monkeypatch.setattr(type(spark.range(1)), "collect", guarded_collect)
    r = sync_documents_from_changelog(spark, tail, root, out)
    monkeypatch.setattr(type(spark.range(1)), "collect", orig_collect)
    assert r["batches"] == 1 and r["documents_refreshed"] == 12

    t = TranscriptTable.load(root)
    got = {
        row.conv_id: (row.n_turns, row.document)
        for row in read_documents(spark, out).collect()
    }
    exp = {
        row.conv_id: (row.n_turns, row.document)
        for row in conversation_documents(t.scan(spark)).collect()
    }
    assert got == exp and len(got) == 12
