"""Incremental LSH dedup-index maintenance (streaming/lsh_index.py): the
index refreshed from the changelog must yield EXACTLY the candidate pairs
the batch pipeline computes from scratch on the table's current text — at
every snapshot of a generator-driven replay with inserts, updates,
deletes, duplicates and late events — while rehashing only changed docs."""

from __future__ import annotations

from dataclasses import replace as dc_replace

import pytest
from pyspark.sql import functions as F

from sfr_ingest_pipeline_spark.functions.dedup import lsh_candidate_pairs
from sfr_ingest_pipeline_spark.operators.merge import apply_batch
from sfr_ingest_pipeline_spark.streaming.lsh_index import IncrementalLshIndex
from sfr_ingest_pipeline_spark.table.transcript_table import TranscriptTable

N_BANDS, K, CAP = 4, 5, 256


def _batch_pairs(spark, root):
    """Ground truth: the batch pipeline from scratch on current text."""
    docs = (
        TranscriptTable.load(root).scan(spark)
        .select(
            F.concat_ws("#", F.col("conv_id"),
                        F.col("turn_idx").cast("string")).alias("doc_id"),
            "text",
        )
    )
    return {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(
            docs, "doc_id", "text", n_bands=N_BANDS, k=K,
            max_bucket_size=CAP,
        ).collect()
    }


def _index_pairs(spark, idx):
    return {(r.id_a, r.id_b) for r in idx.candidate_pairs(spark).collect()}


def test_index_matches_batch_at_every_snapshot(
    spark, tmp_path, segments_basic, small_cfg
):
    cfg = dc_replace(small_cfg, compact_delta_files=8)
    root = str(tmp_path / "t")
    TranscriptTable.create(root, n_buckets=cfg.n_buckets)
    idx = IncrementalLshIndex(str(tmp_path / "lsh"), root,
                              n_bands=N_BANDS, k=K, max_bucket_size=CAP)

    deltas = 0
    for i, seg in enumerate(segments_basic):
        apply_batch(spark, root, spark.createDataFrame(seg), i, config=cfg)
        r = idx.refresh(spark)
        assert r["mode"] == ("bootstrap" if i == 0 else "delta")
        if r["mode"] == "delta":
            deltas += 1
            # O(changes): the refresh signed at most the changed docs, not
            # the corpus
            n_live = TranscriptTable.load(root).scan(spark).count()
            assert r["docs_signed"] <= len(seg) <= n_live or r[
                "docs_signed"] < n_live
        assert _index_pairs(spark, idx) == _batch_pairs(spark, root), (
            f"pairs diverged after batch {i}"
        )
    assert deltas >= 2

    # idempotent noop when nothing changed
    assert idx.refresh(spark)["mode"] == "noop"

    # compaction keeps the pair set
    before = _index_pairs(spark, idx)
    idx.compact(spark)
    assert _index_pairs(spark, idx) == before


def test_delete_and_duplicate_edges(spark, tmp_path, small_cfg):
    """Deleting the canonical member of an exact-dup group re-canonicalizes
    the group; a deleted doc contributes no pairs; a new exact duplicate
    probes into pairs via the index."""
    import pandas as pd

    cfg = dc_replace(small_cfg, compact_delta_files=8)
    root = str(tmp_path / "t")
    TranscriptTable.create(root, n_buckets=cfg.n_buckets)
    idx = IncrementalLshIndex(str(tmp_path / "lsh"), root,
                              n_bands=N_BANDS, k=K, max_bucket_size=CAP)

    def ev(op, conv, turn, text, seq):
        return {"op": op, "conv_id": conv, "turn_idx": turn,
                "role": None if op == "D" else "user",
                "text": None if op == "D" else text, "tool": None,
                "ts": pd.Timestamp("2026-01-01") + pd.Timedelta(seconds=seq),
                "event_seq": seq}

    same = "the quick brown fox jumps over the lazy dog " * 3
    b0 = [ev("I", "a", 0, same, 1), ev("I", "b", 0, same, 2),
          ev("I", "c", 0, same, 3), ev("I", "d", 0, "totally different", 4)]
    apply_batch(spark, root, spark.createDataFrame(pd.DataFrame(b0)), 0,
                config=cfg)
    idx.refresh(spark)
    assert _index_pairs(spark, idx) == _batch_pairs(spark, root)
    assert ("a#0", "b#0") in _index_pairs(spark, idx)

    # delete the canonical (a#0): group re-canonicalizes to b#0
    b1 = [ev("D", "a", 0, "", 10)]
    apply_batch(spark, root, spark.createDataFrame(pd.DataFrame(b1)), 1,
                config=cfg)
    r = idx.refresh(spark)
    assert r["docs_tombstoned"] == 1 and r["docs_signed"] == 0
    got = _index_pairs(spark, idx)
    assert got == _batch_pairs(spark, root)
    assert ("b#0", "c#0") in got and not any("a#0" in p for pair in got
                                             for p in pair)

    # probe path: a new duplicate's pairs via candidate_pairs_for
    b2 = [ev("I", "e", 0, same, 20)]
    apply_batch(spark, root, spark.createDataFrame(pd.DataFrame(b2)), 2,
                config=cfg)
    idx.refresh(spark)
    probe = {
        (r.id_a, r.id_b)
        for r in idx.candidate_pairs_for(
            spark, spark.createDataFrame([("e#0",)], "doc_id string")
        ).collect()
    }
    assert ("b#0", "e#0") in probe
    full = _index_pairs(spark, idx)
    assert probe <= full and full == _batch_pairs(spark, root)


def test_crash_between_append_and_cursor_is_idempotent(
    spark, tmp_path, small_cfg, monkeypatch
):
    """A crash after the data append but before the cursor write re-runs
    the same span on retry: identical content under the same stamp, so the
    resolved index (and pairs) are unaffected."""
    import pandas as pd

    cfg = dc_replace(small_cfg, compact_delta_files=8)
    root = str(tmp_path / "t")
    TranscriptTable.create(root, n_buckets=cfg.n_buckets)
    idx = IncrementalLshIndex(str(tmp_path / "lsh"), root,
                              n_bands=N_BANDS, k=K, max_bucket_size=CAP)

    rows = [{"op": "I", "conv_id": f"c{i}", "turn_idx": 0, "role": "user",
             "text": f"text number {i} with shared suffix tokens",
             "tool": None,
             "ts": pd.Timestamp("2026-01-01") + pd.Timedelta(seconds=i),
             "event_seq": i + 1} for i in range(6)]
    apply_batch(spark, root, spark.createDataFrame(pd.DataFrame(rows)), 0,
                config=cfg)
    idx.refresh(spark)

    rows2 = [{"op": "U", "conv_id": "c1", "turn_idx": 0, "role": "user",
              "text": "rewritten entirely", "tool": None,
              "ts": pd.Timestamp("2026-01-02"), "event_seq": 100}]
    apply_batch(spark, root, spark.createDataFrame(pd.DataFrame(rows2)), 1,
                config=cfg)

    # crash injection: the cursor write fails after the append
    boom = RuntimeError("crash before cursor")

    def dying_save(snapshot_id):
        raise boom

    monkeypatch.setattr(idx, "_save_cursor", dying_save)
    with pytest.raises(RuntimeError, match="crash before cursor"):
        idx.refresh(spark)
    monkeypatch.undo()

    # retry re-appends the same span; the index still matches batch truth
    r = idx.refresh(spark)
    assert r["mode"] == "delta"
    assert _index_pairs(spark, idx) == _batch_pairs(spark, root)


def test_param_drift_refuses_refresh(spark, tmp_path, segments_basic, small_cfg):
    """An index must refuse to refresh under different signature parameters
    (ADVICE r5): cross-parameter signatures never collide, so a drifted
    refresh would silently stop finding pairs instead of failing loudly."""
    cfg = dc_replace(small_cfg, compact_delta_files=8)
    root = str(tmp_path / "t")
    TranscriptTable.create(root, n_buckets=cfg.n_buckets)
    apply_batch(spark, root, spark.createDataFrame(segments_basic[0]), 0,
                config=cfg)
    idx = IncrementalLshIndex(str(tmp_path / "lsh"), root,
                              n_bands=N_BANDS, k=K, max_bucket_size=CAP)
    idx.refresh(spark)

    drifted = IncrementalLshIndex(str(tmp_path / "lsh"), root,
                                  n_bands=N_BANDS, k=K + 1,
                                  max_bucket_size=CAP)
    with pytest.raises(ValueError, match="delete the index"):
        drifted.refresh(spark)

    # the original parameters still work after the refusal (no new
    # snapshots since the first refresh -> a clean noop, not an error)
    assert idx.refresh(spark)["mode"] == "noop"
