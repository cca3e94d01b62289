"""MERGE operator golden tests (SURVEY.md §7 M3): multi-batch replays with
deletes, cross-batch late updates, conflicts, idempotent re-apply."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sfr_ingest_pipeline_spark.oracle import LOGICAL_COLS, simulate_replay
from sfr_ingest_pipeline_spark.operators.merge import apply_batch
from sfr_ingest_pipeline_spark.table.transcript_table import TranscriptTable


def _apply_segments(spark, tmp_path, segments, cfg, name="t"):
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


def test_multibatch_matches_oracle(spark, tmp_path, segments_basic, small_cfg):
    root, results = _apply_segments(spark, tmp_path, segments_basic, small_cfg)
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


def test_idempotent_reapply(spark, tmp_path, segments_basic, small_cfg):
    root, _ = _apply_segments(spark, tmp_path, segments_basic, small_cfg, "t2")
    before = _table_pandas(spark, root)
    sid_before = TranscriptTable.load(root).snapshot.snapshot_id
    # re-deliver an old batch id -> must be skipped, no new snapshot
    df = spark.createDataFrame(segments_basic[0])
    res = apply_batch(spark, root, df, 0, config=small_cfg)
    assert res.skipped and not res.committed
    assert TranscriptTable.load(root).snapshot.snapshot_id == sid_before
    pd.testing.assert_frame_equal(before, _table_pandas(spark, root))


def test_delete_tombstone_blocks_late_event(spark, tmp_path, small_cfg):
    """Late older event must not resurrect a deleted turn."""
    b0 = pd.DataFrame(
        [
            {"op": "I", "conv_id": "c1", "turn_idx": 0, "role": "user",
             "text": "v1", "tool": None, "ts": pd.Timestamp("2024-01-01 00:00:01"),
             "event_seq": 1},
            {"op": "D", "conv_id": "c1", "turn_idx": 0, "role": None,
             "text": None, "tool": None, "ts": pd.Timestamp("2024-01-01 00:00:03"),
             "event_seq": 3},
        ]
    )
    b1 = pd.DataFrame(
        [
            {"op": "U", "conv_id": "c1", "turn_idx": 0, "role": "user",
             "text": "late v2", "tool": None,
             "ts": pd.Timestamp("2024-01-01 00:00:02"), "event_seq": 2},
        ]
    )
    root, results = _apply_segments(spark, tmp_path, [b0, b1], small_cfg, "t3")
    got = _table_pandas(spark, root)
    assert len(got) == 0
    assert results[1].merge_conflicts == 1
    assert results[1].events_applied == 0


def test_delete_then_reinsert(spark, tmp_path, small_cfg):
    ts = pd.Timestamp("2024-01-01")
    rows = [
        {"op": "I", "conv_id": "c1", "turn_idx": 0, "role": "user", "text": "a",
         "tool": None, "ts": ts, "event_seq": 1},
        {"op": "D", "conv_id": "c1", "turn_idx": 0, "role": None, "text": None,
         "tool": None, "ts": ts + pd.Timedelta(seconds=1), "event_seq": 2},
        {"op": "I", "conv_id": "c1", "turn_idx": 0, "role": "user", "text": "b",
         "tool": None, "ts": ts + pd.Timedelta(seconds=2), "event_seq": 3},
    ]
    batches = [pd.DataFrame([r]) for r in rows]
    root, _ = _apply_segments(spark, tmp_path, batches, small_cfg, "t4")
    got = _table_pandas(spark, root)
    assert list(got["text"]) == ["b"]


def test_lineage_recorded(spark, tmp_path, segments_basic, small_cfg):
    root, _ = _apply_segments(spark, tmp_path, segments_basic[:2], small_cfg, "t5")
    snap = TranscriptTable.load(root).snapshot
    lineage = snap.properties["lineage"]
    assert lineage, "lineage must not be empty"
    for _bucket, info in lineage.items():
        assert set(info) == {"rows_before", "rows_after", "files"}
        assert info["files"], "each touched bucket lists its rewritten files"
    # manifest row counts agree with lineage
    per_bucket = {}
    for f in TranscriptTable.load(root).files:
        per_bucket[f.bucket] = per_bucket.get(f.bucket, 0) + f.rows
    for bucket, info in lineage.items():
        assert per_bucket[int(bucket)] == info["rows_after"]


def test_counters_conserve(spark, tmp_path, segments_basic, small_cfg):
    _, results = _apply_segments(spark, tmp_path, segments_basic, small_cfg, "t6")
    for r in results:
        assert r.rows_in == r.dedup_dropped + r.events_applied + r.merge_conflicts


@pytest.mark.parametrize("n_salt", [1, 8])
def test_salt_invariant(spark, tmp_path, segments_basic, small_cfg, n_salt):
    from dataclasses import replace

    cfg = replace(small_cfg, n_salt=n_salt)
    root, _ = _apply_segments(spark, tmp_path, segments_basic[:3], cfg, f"t7_{n_salt}")
    got = _table_pandas(spark, root)
    sim = simulate_replay(segments_basic[:3])
    pd.testing.assert_frame_equal(
        got[LOGICAL_COLS], sim.table[LOGICAL_COLS], check_dtype=False
    )


def test_conv_range_file_pruning_cow(spark, tmp_path, small_cfg):
    """A batch touching a disjoint conv_id range must not read (or rewrite)
    files whose footer range excludes it — and the carried files' rows must
    survive the copy-on-write replace exactly."""
    from sfr_ingest_pipeline_spark.config import EngineConfig

    cfg = EngineConfig(n_buckets=1, n_salt=1, compact_delta_files=0,
                       shuffle_partitions=4)
    root = str(tmp_path / "prune_cow")
    TranscriptTable.create(root, n_buckets=1)

    def _batch(prefix, n, seq0, ts0):
        import datetime

        rows = [
            ("I", f"{prefix}-{i:04d}", 0, "user", f"text {prefix} {i}", None,
             datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=ts0 + i),
             seq0 + i)
            for i in range(n)
        ]
        return spark.createDataFrame(
            rows,
            "op string, conv_id string, turn_idx int, role string, "
            "text string, tool string, ts timestamp, event_seq long",
        )

    r0 = apply_batch(spark, root, _batch("aaaa", 40, 0, 0), 0, config=cfg)
    assert r0.files_pruned == 0
    # disjoint range: every file from batch 0 must be pruned, not rewritten
    r1 = apply_batch(spark, root, _batch("bbbb", 40, 1000, 0), 1, config=cfg)
    assert r1.files_pruned > 0, "no files pruned despite disjoint conv range"
    assert r1.files_read == 0

    table = TranscriptTable.load(root)
    got = table.scan(spark)
    assert got.count() == 80
    assert got.filter(F.col("conv_id").startswith("aaaa")).count() == 40
    # overlapping range: base files must be read again
    r2 = apply_batch(spark, root, _batch("aaaa", 10, 2000, 120), 2, config=cfg)
    assert r2.files_read > 0
    got2 = TranscriptTable.load(root).scan(spark)
    assert got2.count() == 80
    assert got2.filter(F.col("text").startswith("text aaaa")).count() == 40


def test_conv_range_file_pruning_mor_counters_exact(spark, tmp_path):
    """Pruned files contain no batch key, so counters stay exact: a target
    row beating the batch still counts as a conflict because ITS file
    intersects the batch range."""
    import datetime

    from sfr_ingest_pipeline_spark.config import EngineConfig

    cfg = EngineConfig(n_buckets=1, n_salt=1, compact_delta_files=100, shuffle_partitions=4)
    root = str(tmp_path / "prune_mor")
    TranscriptTable.create(root, n_buckets=1)
    ts = datetime.datetime(2024, 1, 1)
    schema = ("op string, conv_id string, turn_idx int, role string, "
              "text string, tool string, ts timestamp, event_seq long")
    b0 = spark.createDataFrame(
        [("I", "aaaa-1", 0, "user", "old a", None, ts, 10),
         ("I", "zzzz-1", 0, "user", "old z", None, ts, 11)], schema)
    apply_batch(spark, root, b0, 0, config=cfg)
    # batch 1: LOSES to the existing zzzz-1 row (older ts) -> conflict; the
    # aaaa file is range-pruned (conv range zzzz only)
    b1 = spark.createDataFrame(
        [("U", "zzzz-1", 0, "user", "late loser", None,
          ts - datetime.timedelta(seconds=5), 5)], schema)
    r1 = apply_batch(spark, root, b1, 1, config=cfg)
    assert r1.merge_conflicts == 1 and r1.events_applied == 0
    got = TranscriptTable.load(root).scan(spark).orderBy("conv_id").collect()
    assert [r["text"] for r in got] == ["old a", "old z"]


def test_config_key_order_cols_must_match_table(spark, tmp_path, small_cfg):
    """The snapshot's recorded key/order cols are authoritative; a config
    that disagrees must fail loudly instead of writing rows the table's own
    scan misreads (round-3 ADVICE: _del_hw struct is order-col-shaped)."""
    from dataclasses import replace

    import pytest

    root = str(tmp_path / "cfgmismatch")
    TranscriptTable.create(root, n_buckets=4)
    bad = replace(small_cfg, order_cols=("event_seq", "ts"))
    b = pd.DataFrame([{
        "op": "I", "conv_id": "c", "turn_idx": 0, "role": "user",
        "text": "x", "tool": None,
        "ts": pd.Timestamp("2024-01-01"), "event_seq": 1,
    }])
    with pytest.raises(ValueError, match="differ from the table"):
        apply_batch(spark, root, spark.createDataFrame(b), 0, config=bad)


def test_text_policy_recorded_and_must_not_change(
    spark, tmp_path, segments_basic, small_cfg
):
    """normalize/redact run only on rows a batch changes, so a table keeps
    the policy its merge commits record; a batch with another one raises
    before it writes. A table with no record takes the batch and records
    its policy."""
    from dataclasses import replace

    root, _ = _apply_segments(spark, tmp_path, segments_basic[:2], small_cfg,
                              "policy")
    table = TranscriptTable.load(root)
    assert table.snapshot.properties["text_policy"] == {
        "normalize": True, "redact_pii": False,
    }
    seg = spark.createDataFrame(segments_basic[2])
    redacting = replace(small_cfg, redact_pii=True)
    with pytest.raises(ValueError, match="text policy"):
        apply_batch(spark, root, seg, 2, config=redacting)
    with pytest.raises(ValueError, match="text policy"):
        apply_batch(spark, root, seg, 2, config=small_cfg, normalize=False)
    assert TranscriptTable.load(root).snapshot == table.snapshot

    props = dict(table.snapshot.properties)
    del props["text_policy"]
    table.commit(set(), [], props)
    assert apply_batch(spark, root, seg, 2, config=redacting).committed
    assert TranscriptTable.load(root).snapshot.properties["text_policy"] == {
        "normalize": True, "redact_pii": True,
    }


def test_custom_order_cols_end_to_end(spark, tmp_path):
    """Non-default order_cols thread through physical_schema so the stored
    _del_hw delete memory carries (event_seq, ts) fields — the round-3
    ADVICE scenario where a hardcoded struct silently nulled the memory."""
    from dataclasses import replace

    from sfr_ingest_pipeline_spark.config import EngineConfig

    cfg = EngineConfig(
        n_buckets=4, n_salt=1, shuffle_partitions=8,
        column_merge="coalesce", order_cols=("event_seq", "ts"),
    )
    root = str(tmp_path / "customorder")
    TranscriptTable.create(root, n_buckets=4, order_cols=cfg.order_cols)
    t0 = pd.Timestamp("2024-01-01")

    def ev(op, seq, **kw):
        base = {"op": op, "conv_id": "c", "turn_idx": 0, "role": None,
                "text": None, "tool": None,
                "ts": t0 + pd.Timedelta(microseconds=seq), "event_seq": seq}
        base.update(kw)
        return base

    b0 = pd.DataFrame([ev("I", 1, role="user", text="hello")])
    b1 = pd.DataFrame([ev("D", 5)])
    b2 = pd.DataFrame([ev("U", 3, text="zombie")])  # pre-delete by seq order
    for i, seg in enumerate([b0, b1, b2]):
        apply_batch(spark, root, spark.createDataFrame(seg), i, config=cfg)
    table = TranscriptTable.load(root)
    # the delete memory survived commits AND blocked the pre-delete fill
    assert table.scan(spark).count() == 0
    meta = table.scan(spark, with_meta=True).collect()
    hw = [r["_del_hw"] for r in meta if r["_del_hw"] is not None]
    assert hw and hw[0]["event_seq"] == 5
    # reinsert after the delete (seq order) lands
    b3 = pd.DataFrame([ev("I", 7, role="user", text="back")])
    apply_batch(spark, root, spark.createDataFrame(b3), 3, config=cfg)
    rows = TranscriptTable.load(root).scan(spark).collect()
    assert len(rows) == 1 and rows[0]["text"] == "back"
