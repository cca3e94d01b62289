"""Incremental near-dup VIEW (streaming/lsh_index.py IncrementalNearDupView):
the composed dedup result (verified pairs -> connected components -> kept
docs) maintained from the changelog must equal the batch chain recomputed
from scratch on the table's current text — at every snapshot, including
delete-of-canonical re-canonicalization and hot-bucket-cap flips in both
directions — while re-verifying only new/invalidated pairs."""

from __future__ import annotations

from dataclasses import replace as dc_replace

import pandas as pd
from pyspark.sql import functions as F

from sfr_ingest_pipeline_spark.functions.dedup import (
    lsh_candidate_pairs,
    ngram_jaccard,
)
from sfr_ingest_pipeline_spark.functions.graph import connected_components
from sfr_ingest_pipeline_spark.operators.merge import apply_batch
from sfr_ingest_pipeline_spark.streaming.lsh_index import (
    IncrementalLshIndex,
    IncrementalNearDupView,
)
from sfr_ingest_pipeline_spark.table.transcript_table import TranscriptTable

N_BANDS, K = 4, 5


def _batch_kept(spark, root, cap):
    """Ground truth: the full composed chain from scratch on current text."""
    docs = (
        TranscriptTable.load(root).scan(spark)
        .select(
            F.concat_ws("#", F.col("conv_id"),
                        F.col("turn_idx").cast("string")).alias("doc_id"),
            "text",
        )
    ).persist()
    cand = lsh_candidate_pairs(docs, "doc_id", "text", n_bands=N_BANDS,
                               k=K, max_bucket_size=cap)
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("_ta"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("text").alias("_tb"))
    edges = (
        cand.join(a, "id_a").join(b, "id_b")
        .select("id_a", "id_b",
                ngram_jaccard(F.col("_ta"), F.col("_tb"), K,
                              mode="word").alias("j"))
        .filter(F.col("j") >= 0.5)
    )
    comp = connected_components(edges, "id_a", "id_b")
    dropped = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    kept = {
        r.doc_id
        for r in docs.join(dropped, "doc_id", "left_anti")
        .select("doc_id").collect()
    }
    docs.unpersist()
    return kept


def _view_kept(spark, view):
    return {r.doc_id for r in view.kept_docs(spark).collect()}


def _ev(op, conv, turn, text, seq):
    return {"op": op, "conv_id": conv, "turn_idx": turn,
            "role": None if op == "D" else "user",
            "text": None if op == "D" else text, "tool": None,
            "ts": pd.Timestamp("2026-01-01") + pd.Timedelta(seconds=seq),
            "event_seq": seq}


def test_view_matches_batch_at_every_snapshot(
    spark, tmp_path, segments_basic, small_cfg
):
    cap = 256
    cfg = dc_replace(small_cfg, compact_delta_files=8)
    root = str(tmp_path / "t")
    TranscriptTable.create(root, n_buckets=cfg.n_buckets)
    idx = IncrementalLshIndex(str(tmp_path / "lsh"), root,
                              n_bands=N_BANDS, k=K, max_bucket_size=cap)
    view = IncrementalNearDupView(idx)

    for i, seg in enumerate(segments_basic):
        apply_batch(spark, root, spark.createDataFrame(seg), i, config=cfg)
        r = view.refresh(spark)
        assert r["mode"] == ("bootstrap" if i == 0 else "delta")
        if r["mode"] == "delta":
            # incremental: hashing O(changed docs), never the corpus
            n_live = TranscriptTable.load(root).scan(spark).count()
            assert r["docs_signed"] < n_live
        assert _view_kept(spark, view) == _batch_kept(spark, root, cap), (
            f"kept set diverged after batch {i}"
        )
    assert view.refresh(spark)["mode"] == "noop"


def test_view_delete_of_canonical_and_update(spark, tmp_path, small_cfg):
    """Deleting a cluster's canonical re-canonicalizes (one fewer kept);
    updating a member's text out of the cluster re-admits it."""
    cap = 256
    cfg = dc_replace(small_cfg, compact_delta_files=8)
    root = str(tmp_path / "t")
    TranscriptTable.create(root, n_buckets=cfg.n_buckets)
    idx = IncrementalLshIndex(str(tmp_path / "lsh"), root,
                              n_bands=N_BANDS, k=K, max_bucket_size=cap)
    view = IncrementalNearDupView(idx)

    same = "the quick brown fox jumps over the lazy dog " * 3
    b0 = [_ev("I", "a", 0, same, 1), _ev("I", "b", 0, same, 2),
          _ev("I", "c", 0, same, 3),
          _ev("I", "d", 0, "something else entirely here", 4)]
    apply_batch(spark, root, spark.createDataFrame(pd.DataFrame(b0)), 0,
                config=cfg)
    view.refresh(spark)
    kept = _view_kept(spark, view)
    assert kept == {"a#0", "d#0"} == _batch_kept(spark, root, cap)

    # delete the canonical: b#0 takes over
    apply_batch(spark, root,
                spark.createDataFrame(pd.DataFrame([_ev("D", "a", 0, "", 10)])),
                1, config=cfg)
    r = view.refresh(spark)
    assert r["pairs_tombstoned"] > 0
    kept = _view_kept(spark, view)
    assert kept == {"b#0", "d#0"} == _batch_kept(spark, root, cap)

    # update c out of the cluster: it becomes its own kept doc, and only
    # the invalidated pairs re-verify
    apply_batch(spark, root,
                spark.createDataFrame(pd.DataFrame(
                    [_ev("U", "c", 0, "now a completely different text", 20)]
                )), 2, config=cfg)
    r = view.refresh(spark)
    assert r["docs_signed"] == 1
    kept = _view_kept(spark, view)
    assert kept == {"b#0", "c#0", "d#0"} == _batch_kept(spark, root, cap)


def test_view_cap_flip_both_directions(spark, tmp_path, small_cfg):
    """The hot-bucket cap makes the candidate set non-monotonic: inserts
    pushing a bucket over the cap must ERASE pairs between untouched docs,
    and deletes dropping it back under must CONJURE pairs between docs
    nobody touched — the view must track both (this is why the candidate
    diff is recomputed per refresh)."""
    cap = 3
    cfg = dc_replace(small_cfg, compact_delta_files=8)
    root = str(tmp_path / "t")
    TranscriptTable.create(root, n_buckets=cfg.n_buckets)
    idx = IncrementalLshIndex(str(tmp_path / "lsh"), root,
                              n_bands=N_BANDS, k=K, max_bucket_size=cap)
    view = IncrementalNearDupView(idx)

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    # 3 distinct near-dup variants -> bucket size 3 == cap -> pairs emitted
    b0 = [_ev("I", f"v{i}", 0, base + f"tail{i}", i + 1) for i in range(3)]
    apply_batch(spark, root, spark.createDataFrame(pd.DataFrame(b0)), 0,
                config=cfg)
    view.refresh(spark)
    assert _view_kept(spark, view) == _batch_kept(spark, root, cap)
    n_edges0 = view.edges(spark).count()
    assert n_edges0 > 0

    # 2 more variants -> bucket size 5 > cap -> the batch pipeline drops
    # the bucket; pairs between v0/v1/v2 (untouched!) must die in the view
    b1 = [_ev("I", f"v{i}", 0, base + f"tail{i}", 10 + i) for i in (3, 4)]
    apply_batch(spark, root, spark.createDataFrame(pd.DataFrame(b1)), 1,
                config=cfg)
    r = view.refresh(spark)
    assert r["pairs_tombstoned"] > 0
    assert _view_kept(spark, view) == _batch_kept(spark, root, cap)

    # delete the two extras -> back under the cap -> the SAME untouched
    # pairs come back; both texts unchanged, so they re-verify from the
    # corpus read (point-pruned to the pairs' own convs)
    b2 = [_ev("D", f"v{i}", 0, "", 20 + i) for i in (3, 4)]
    apply_batch(spark, root, spark.createDataFrame(pd.DataFrame(b2)), 2,
                config=cfg)
    r = view.refresh(spark)
    assert r["pairs_verified"] > 0
    assert _view_kept(spark, view) == _batch_kept(spark, root, cap)
    assert view.edges(spark).count() == n_edges0
