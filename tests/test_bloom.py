"""Per-file conv_id Bloom filters (table/bloom.py): no false negatives
ever (correctness), real pruning beyond the range envelope on scattered
point batches (the scale claim), sidecar lifecycle under GC, and
backward compatibility with bloom-less manifests."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sfr_ingest_pipeline_spark.config import EngineConfig
from sfr_ingest_pipeline_spark.operators.merge import apply_batch
from sfr_ingest_pipeline_spark.table import bloom as B
from sfr_ingest_pipeline_spark.table.transcript_table import TranscriptTable


# ---------------------------------------------------------------- unit


def test_no_false_negatives_and_fpp_sane():
    keys = [f"conv-{i:06d}" for i in range(5000)]
    buf, k = B.build_bloom(keys, fpp=0.01, max_bytes=1 << 17)
    assert all(B.might_contain(buf, k, key) for key in keys)
    absent = [f"other-{i:06d}" for i in range(5000)]
    fp = sum(B.might_contain(buf, k, key) for key in absent) / len(absent)
    assert fp < 0.03  # sized for 1%; allow slack


def test_dense_file_skips_filter():
    assert B.bloom_params(10**9, fpp=0.01, max_bytes=1 << 17) is None
    assert B.build_bloom([], fpp=0.01, max_bytes=64) is not None


def test_sidecar_roundtrip(tmp_path):
    root = str(tmp_path)
    w = B.BloomSidecarWriter(root)
    e1 = w.add(["a", "b"], 0.01, 1 << 17)
    e2 = w.add(["c", "d"], 0.01, 1 << 17)
    w.flush()

    class FI:
        def __init__(self, e):
            self.bloom_path, self.bloom_off, self.bloom_len, self.bloom_k = e

    r = B.BloomReader(root)
    assert r.may_contain_any(FI(e1), B.hash_keys(["a"]))
    assert r.may_contain_any(FI(e2), B.hash_keys(["d"]))
    assert not r.may_contain_any(FI(e1), B.hash_keys(["zzzz-not-there"]))
    # missing sidecar degrades to "no filter", never an error
    os.remove(os.path.join(root, w.rel_path))
    r2 = B.BloomReader(root)
    assert r2.may_contain_any(FI(e1), B.hash_keys(["zzzz-not-there"]))


# ------------------------------------------------------------ engine


def _ev(op, conv, turn, seq, text="t"):
    return {"op": op, "conv_id": conv, "turn_idx": turn, "role": "user",
            "text": text, "tool": None,
            "ts": pd.Timestamp("2026-01-01") + pd.Timedelta(seconds=seq),
            "event_seq": seq}


@pytest.fixture()
def scattered_table(spark, tmp_path, small_cfg):
    """Table built from 6 conv-disjoint MoR delta batches: the range
    envelope of each delta file spans the keyspace end to end (first and
    last conv alphabetically), so range pruning alone reads everything."""
    from dataclasses import replace

    cfg = replace(small_cfg, merge_mode="mor")
    root = str(tmp_path / "t")
    TranscriptTable.create(root, n_buckets=cfg.n_buckets)
    convs = [f"conv-{i:04d}" for i in range(60)]
    for b in range(6):
        # each batch hits convs spread across the whole alphabet range
        batch = [
            _ev("I", convs[(b + j * 6) % 60], t, b * 1000 + j * 10 + t)
            for j in range(10) for t in range(3)
        ]
        apply_batch(
            spark, root, spark.createDataFrame(pd.DataFrame(batch)),
            batch_id=b + 1, config=cfg,
        )
    return root, convs


def test_blooms_harvested_on_merge(scattered_table):
    root, _ = scattered_table
    t = TranscriptTable.load(root)
    with_bloom = [f for f in t.files if f.bloom_path]
    assert with_bloom, "merge commits should carry bloom entries"
    assert os.path.isdir(os.path.join(root, "metadata", "blooms"))


def _build_wide_range_table(spark, root, cfg, convs):
    """Single-bucket table whose every MoR delta spans the FULL conv range
    (touches the first and last conv), so the range envelope can never
    prune a delta — the workload blooms exist for."""
    TranscriptTable.create(root, n_buckets=1)
    base = [_ev("I", c, t, i * 10 + t)
            for i, c in enumerate(convs) for t in range(2)]
    apply_batch(spark, root, spark.createDataFrame(pd.DataFrame(base)),
                batch_id=1, config=cfg)
    for b in range(5):
        batch = [_ev("U", convs[0], 0, 10_000 + b * 10, text=f"lo{b}"),
                 _ev("U", convs[-1], 0, 10_001 + b * 10, text=f"hi{b}")]
        apply_batch(spark, root, spark.createDataFrame(pd.DataFrame(batch)),
                    batch_id=b + 2, config=cfg)


def test_point_batch_prunes_beyond_range(spark, tmp_path, small_cfg):
    """A 1-conversation correction must skip every delta that doesn't
    contain the conversation — even though each delta's range envelope
    spans the whole keyspace and range pruning alone reads all of them."""
    from dataclasses import replace

    cfg = replace(small_cfg, n_buckets=1, merge_mode="mor")
    convs = [f"conv-{i:04d}" for i in range(40)]
    root = str(tmp_path / "t")
    _build_wide_range_table(spark, root, cfg, convs)
    target = convs[20]
    res = apply_batch(
        spark, root,
        spark.createDataFrame(pd.DataFrame([_ev("U", target, 0, 99_999,
                                                text="fixed")])),
        batch_id=100, config=cfg,
    )
    assert res.files_pruned >= 5, (
        f"bloom probe should prune all 5 full-range deltas "
        f"(read {res.files_read}, pruned {res.files_pruned})"
    )
    t = TranscriptTable.load(root)
    row = t.read_conversation(spark, target).filter(
        F.col("turn_idx") == 0
    ).collect()
    assert row[0].text == "fixed"


def test_bloom_pruning_vs_disabled_same_result(spark, tmp_path, small_cfg):
    """Same wide-range correction with blooms on vs off: identical final
    state, on-path reads strictly fewer files."""
    from dataclasses import replace

    cfgs = {
        "on": replace(small_cfg, n_buckets=1, merge_mode="mor"),
        "off": replace(small_cfg, n_buckets=1, merge_mode="mor",
                       file_bloom_fpp=None, bloom_probe_rows=0),
    }
    convs = [f"conv-{i:04d}" for i in range(40)]
    reads, states = {}, {}
    for name, cfg in cfgs.items():
        root = str(tmp_path / name)
        _build_wide_range_table(spark, root, cfg, convs)
        res = apply_batch(
            spark, root,
            spark.createDataFrame(pd.DataFrame([_ev("U", convs[20], 0,
                                                    77_777, text="x")])),
            batch_id=50, config=cfg,
        )
        reads[name] = res.files_read
        states[name] = (
            TranscriptTable.load(root).scan(spark)
            .orderBy("conv_id", "turn_idx")
            .toPandas()
        )
    assert reads["on"] < reads["off"], reads
    pd.testing.assert_frame_equal(states["on"], states["off"])


def test_point_lookup_uses_bloom(spark, scattered_table):
    """read_conversation on a conv present in 1 of 6 deltas must open
    fewer files than the bucket holds."""
    root, convs = scattered_table
    t = TranscriptTable.load(root)
    target = convs[11]
    rows = t.read_conversation(spark, target).collect()
    assert len(rows) == 3
    from sfr_ingest_pipeline_spark.functions.xxh import bucket_of
    from sfr_ingest_pipeline_spark.table.bloom import BloomReader, hash_keys

    bucket = bucket_of(target, t.n_buckets)
    in_bucket = t.files_in_buckets({bucket})
    reader = BloomReader(root)
    kept = [f for f in in_bucket
            if reader.may_contain_any(f, hash_keys([target]))]
    assert len(kept) < len(in_bucket)


def test_expire_gcs_unreferenced_bloom_sidecars(spark, tmp_path, small_cfg):
    """MoR deltas carry per-commit bloom blobs; compaction rewrites them
    into fresh blobs, and expire must GC the orphaned ones (a CoW table
    that carries files forward legitimately keeps their blobs alive)."""
    from dataclasses import replace

    from sfr_ingest_pipeline_spark.table.maintenance import (
        compact,
        expire_snapshots,
    )

    cfg = replace(small_cfg, n_buckets=1, merge_mode="mor")
    root = str(tmp_path / "t")
    _build_wide_range_table(
        spark, root, cfg, [f"conv-{i:04d}" for i in range(40)]
    )
    compact(spark, root, config=cfg)
    rep = expire_snapshots(root, keep_last=1)
    assert rep["dropped_blooms"] > 0
    t = TranscriptTable.load(root)
    live_blooms = {f.bloom_path for f in t.files if f.bloom_path}
    on_disk = {
        "/".join(["metadata", "blooms", fn])
        for fn in os.listdir(os.path.join(root, "metadata", "blooms"))
    }
    assert live_blooms <= on_disk
    assert on_disk <= live_blooms  # nothing orphaned


def test_old_manifests_without_blooms_still_read(spark, tmp_path, small_cfg):
    """A table written with blooms disabled (= pre-bloom manifests) scans
    and point-merges fine; probing simply keeps every file."""
    from dataclasses import replace

    from sfr_ingest_pipeline_spark.table.dml import update_where

    cfg = replace(small_cfg, file_bloom_fpp=None)
    root = str(tmp_path / "legacy")
    TranscriptTable.create(root, n_buckets=cfg.n_buckets)
    batch = [_ev("I", f"c{i}", 0, i) for i in range(20)]
    apply_batch(spark, root, spark.createDataFrame(pd.DataFrame(batch)),
                batch_id=1, config=cfg)
    update_where(spark, root, "conv_id = 'c5'", {"text": "'fixed'"}, config=cfg)
    t = TranscriptTable.load(root)
    assert any(f.kind == "delta" for f in t.files)
    assert all(f.bloom_path is None for f in t.files)
    res = apply_batch(
        spark, root,
        spark.createDataFrame(pd.DataFrame([_ev("U", "c3", 0, 1000)])),
        batch_id=2, config=small_cfg,  # probing enabled, no filters exist
    )
    assert res.committed
    assert t.read_conversation(spark, "c3").count() == 1
