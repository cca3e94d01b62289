"""Incremental MinHash-LSH index maintenance: the near-dup dedup index
kept in sync with the transcripts table purely from its changelog —
O(changed documents) signature work per refresh, never O(corpus).

The batch pipeline (``functions/dedup.py lsh_candidate_pairs``) rehashes
every document's shingles on every run: one md5 per shingle over the whole
corpus. At 100 TB that recompute dwarfs the actual change volume (a CDC
table mutates a sliver of its documents per span), so the index here
follows the ``IncrementalAggView`` pattern (streaming/incremental.py):

* **stored state** — one row per live turn holding its exact-dup key
  (sha256 of text) and its ``n_bands`` MinHash band signatures. Signatures
  are a pure function of the text, so they never need revalidation —
  only changed keys are rehashed.
* **refresh** — tails ``changes_between(last, cur)``: insert/update rows
  get sha+signatures computed (the ONLY shingle hashing in the refresh,
  O(changed docs)); deletes append a tombstone version. Rows append
  stamped with the source snapshot id; the cursor persists AFTER the
  append, so a crash in between re-appends identical content under the
  same stamp (idempotent recovery — the same contract as the write-side
  batch marker).
* **read** — newest stamp per key wins, tombstones drop (the
  materialize.py serving-view resolution).
* **pairs** — ``candidate_pairs`` derives the SAME candidate set as the
  batch pipeline from the stored index: exact groups collapse to a
  canonical (min doc_id), members pair linearly against their canonical,
  canonical reps band-join through size-capped buckets. No text is read
  and nothing is rehashed — a few narrow-column shuffles over the index.
* **probe** — ``candidate_pairs_for`` restricts pair generation to the
  buckets a given doc set occupies (new docs probing the existing index):
  O(changes x bucket width) instead of O(index).

Equality contract (pinned by tests/test_lsh_index.py): after every
refresh, ``candidate_pairs`` equals ``lsh_candidate_pairs`` run from
scratch on the table's current resolved text — including the
exact-dedup-first collapse and the hot-bucket cap.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from sfr_ingest_pipeline_spark.functions.dedup import minhash_bands, sha_key
from sfr_ingest_pipeline_spark.operators.lww import lww_reduce
from sfr_ingest_pipeline_spark.table.transcript_table import TranscriptTable

STATE_FILE = "_LSH_STATE.json"

_ADD = ("insert", "update")


class IncrementalLshIndex:
    """MinHash-LSH signature index over a :class:`TranscriptTable`'s text,
    maintained from the changelog. ``index_root`` holds versioned parquet
    plus the refresh cursor; ``table_root`` is the source table."""

    def __init__(
        self,
        index_root: str,
        table_root: str,
        text_col: str = "text",
        n_bands: int = 4,
        k: int = 5,
        max_bucket_size: int = 256,
        rows_per_band: int = 2,
        mode: str = "word",
    ):
        self.index_root = index_root
        self.table_root = table_root
        self.text_col = text_col
        self.n_bands = n_bands
        self.k = k
        self.max_bucket_size = max_bucket_size
        self.rows_per_band = rows_per_band
        self.mode = mode
        os.makedirs(index_root, exist_ok=True)

    # ------------------------------------------------------------- cursor
    @property
    def _state_path(self) -> str:
        return os.path.join(self.index_root, STATE_FILE)

    @property
    def _data_dir(self) -> str:
        return os.path.join(self.index_root, "signatures")

    def last_refreshed_snapshot(self) -> int | None:
        if not os.path.exists(self._state_path):
            return None
        with open(self._state_path) as f:
            state = json.load(f)
        # Signature-parameter guard (ADVICE r5): signatures built under
        # different (n_bands, k, rows_per_band, mode) can never collide
        # with this instance's, so refreshing a drifted index would
        # silently stop finding pairs (and tombstone valid ones). Refuse
        # instead of corrupting; the caller rebuilds from scratch.
        stored = {p: state[p]
                  for p in ("n_bands", "k", "rows_per_band", "mode")
                  if p in state}
        mine = {"n_bands": self.n_bands, "k": self.k,
                "rows_per_band": self.rows_per_band, "mode": self.mode}
        drift = {p: (v, mine[p]) for p, v in stored.items() if v != mine[p]}
        if drift:
            raise ValueError(
                f"LSH index at {self.index_root} was built with "
                f"{ {p: v[0] for p, v in drift.items()} } but this instance "
                f"uses { {p: v[1] for p, v in drift.items()} }; signatures "
                "across parameter sets never collide — delete the index "
                "directory and rebuild (or construct with the stored "
                "parameters)"
            )
        return state["last_snapshot_id"]

    def _save_cursor(self, snapshot_id: int) -> None:
        tmp = f"{self._state_path}.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump({"last_snapshot_id": snapshot_id,
                       "n_bands": self.n_bands, "k": self.k,
                       "rows_per_band": self.rows_per_band,
                       "mode": self.mode}, f)
        os.replace(tmp, self._state_path)

    # ---------------------------------------------------------- signature
    def _doc_id(self) -> F.Column:
        # stable string id so canonical selection (min) matches a batch run
        # using the same id construction
        return F.concat_ws("#", F.col("conv_id"),
                           F.col("turn_idx").cast("string"))

    def _signed(self, docs: DataFrame) -> DataFrame:
        """(conv_id, turn_idx, doc_id, _sha, sig_0..B-1) for live docs —
        the only place shingles are hashed."""
        base = docs.select(
            "conv_id", "turn_idx",
            self._doc_id().alias("doc_id"),
            F.col(self.text_col).alias("_text"),
        ).withColumn("_sha", sha_key("_text"))
        sigs = minhash_bands(base, "_text", self.n_bands, self.k,
                             self.rows_per_band, self.mode)
        return sigs.drop("_text").withColumn("_dead", F.lit(False))

    def _tombstones(self, keys: DataFrame) -> DataFrame:
        out = keys.select(
            "conv_id", "turn_idx", self._doc_id().alias("doc_id"),
            F.lit(None).cast("string").alias("_sha"),
        )
        for b in range(self.n_bands):
            out = out.withColumn(f"sig_{b}", F.lit(None).cast("string"))
        return out.withColumn("_dead", F.lit(True))

    # ------------------------------------------------------------ refresh
    def refresh(self, spark: SparkSession) -> dict:
        """Advance the index to the table's current snapshot: bootstrap on
        first call, O(changed docs) signature work afterwards."""
        table = TranscriptTable.load(self.table_root)
        cur = table.snapshot.snapshot_id
        last = self.last_refreshed_snapshot()
        if last == cur:
            return {"mode": "noop", "snapshot_id": cur, "docs_signed": 0,
                    "docs_tombstoned": 0}
        if last is None:
            signed = self._signed(table.scan(spark))
            obs = Observation(f"lshb_{uuid.uuid4().hex[:6]}")
            signed = signed.observe(obs, F.count(F.lit(1)).alias("n"))
            signed.withColumn("snapshot_id", F.lit(cur).cast("long")) \
                .write.mode("overwrite").parquet(self._data_dir)
            self._save_cursor(cur)
            return {"mode": "bootstrap", "snapshot_id": cur,
                    "docs_signed": int(obs.get["n"]), "docs_tombstoned": 0}

        changes = table.changes_between(spark, last, cur)
        ups = changes.filter(F.col("_change_type").isin(*_ADD))
        dels = changes.filter(F.col("_change_type") == "delete")
        obs_u = Observation(f"lshu_{uuid.uuid4().hex[:6]}")
        obs_d = Observation(f"lshd_{uuid.uuid4().hex[:6]}")
        out = (
            self._signed(ups).observe(obs_u, F.count(F.lit(1)).alias("n"))
            .unionByName(
                self._tombstones(dels)
                .observe(obs_d, F.count(F.lit(1)).alias("n"))
            )
            .withColumn("snapshot_id", F.lit(cur).cast("long"))
        )
        out.write.mode("append").parquet(self._data_dir)
        self._save_cursor(cur)
        return {"mode": "delta", "snapshot_id": cur,
                "docs_signed": int(obs_u.get["n"]),
                "docs_tombstoned": int(obs_d.get["n"])}

    # --------------------------------------------------------------- read
    def signatures(self, spark: SparkSession) -> DataFrame:
        """Current index: one row per live doc (newest stamp per key wins,
        tombstones drop)."""
        cur = lww_reduce(spark.read.parquet(self._data_dir),
                         ["conv_id", "turn_idx"], ["snapshot_id"])
        return cur.filter(~F.col("_dead")).drop("_dead", "snapshot_id")

    def compact(self, spark: SparkSession) -> int:
        """Rewrite the index to one physical row per key (drops superseded
        versions and tombstones). Returns rows retained."""
        cur = self.signatures(spark).withColumn(
            "snapshot_id",
            F.lit(self.last_refreshed_snapshot() or 0).cast("long"),
        ).withColumn("_dead", F.lit(False))
        obs = Observation(f"lshc_{uuid.uuid4().hex[:6]}")
        cur = cur.observe(obs, F.count(F.lit(1)).alias("n"))
        tmp = f"{self._data_dir}.compact-{uuid.uuid4().hex[:8]}"
        cur.write.mode("overwrite").parquet(tmp)
        old = f"{self._data_dir}.old-{uuid.uuid4().hex[:8]}"
        os.replace(self._data_dir, old)
        os.replace(tmp, self._data_dir)
        import shutil

        shutil.rmtree(old)
        return int(obs.get["n"])

    # -------------------------------------------------------------- pairs
    def _pairs_from(self, idx: DataFrame,
                    restrict: DataFrame | None = None) -> DataFrame:
        """Batch-identical candidate derivation from stored signatures.
        ``restrict``: only emit pairs involving (directly, or through a
        shared bucket with) these doc_ids — the probe path."""
        groups = idx.groupBy("_sha").agg(F.min("doc_id").alias("_canon"))
        exact_members = idx.join(groups, "_sha")
        if restrict is not None:
            # probe: only exact groups containing a restricted doc
            shas_hit = (
                idx.join(restrict, idx["doc_id"] == restrict["_rid"])
                .select("_sha").distinct()
            )
            exact_members = exact_members.join(shas_hit, "_sha", "left_semi")
        exact_pairs = (
            exact_members
            .filter(F.col("doc_id") != F.col("_canon"))
            .select(F.col("_canon").alias("id_a"),
                    F.col("doc_id").alias("id_b"))
        )
        reps = idx.join(
            groups, (idx["_sha"] == groups["_sha"])
            & (idx["doc_id"] == groups["_canon"]),
        ).select(idx["doc_id"], *[f"sig_{b}" for b in range(self.n_bands)])
        pairs = exact_pairs
        for b in range(self.n_bands):
            sb = reps.select("doc_id", F.col(f"sig_{b}").alias("sig"))
            counts = sb.groupBy("sig").agg(F.count(F.lit(1)).alias("_n"))
            ok = counts.filter(
                (F.col("_n") > 1) & (F.col("_n") <= self.max_bucket_size)
            ).select("sig")
            if restrict is not None:
                # probe: only buckets some restricted doc occupies
                hit = (
                    sb.join(restrict, sb["doc_id"] == restrict["_rid"])
                    .select("sig").distinct()
                )
                ok = ok.join(hit, "sig", "left_semi")
            sb = sb.join(ok, "sig")
            left = sb.select(F.col("doc_id").alias("id_a"), "sig")
            right = sb.select(F.col("doc_id").alias("id_b"), "sig")
            p = (
                left.join(right, "sig")
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b")
            )
            pairs = pairs.unionByName(p)
        return pairs.distinct()

    def candidate_pairs(self, spark: SparkSession) -> DataFrame:
        """All near-dup candidate pairs in the current corpus — equals
        ``lsh_candidate_pairs`` on the table's resolved text, with zero
        shingle hashing (signatures come from the index)."""
        return self._pairs_from(self.signatures(spark))

    def candidate_pairs_for(
        self, spark: SparkSession, doc_ids: DataFrame
    ) -> DataFrame:
        """Pairs touching the given docs' buckets (``doc_ids``: one
        ``doc_id`` string column) — the new-docs-probe-the-index path."""
        restrict = doc_ids.select(F.col("doc_id").alias("_rid")).distinct()
        return self._pairs_from(self.signatures(spark), restrict=restrict)


PAIR_STATE_FILE = "_NEARDUP_STATE.json"


class IncrementalNearDupView:
    """The COMPOSED near-dup dedup result (verified pairs -> connected
    components -> kept docs) maintained from the table's changelog, on top
    of :class:`IncrementalLshIndex` — the incremental twin of the batch
    ``near_dedup_kept_docs`` query.

    What stays incremental, per refresh span:

    * shingle hashing — O(changed docs) (the index's contract);
    * **Jaccard verification** — only pairs that are NEW in the candidate
      set or had an endpoint's text change are (re-)verified, and the text
      read for them is bucket/point-pruned to the touched conversations
      (the ``materialize.py`` point-prune pattern). Unchanged pairs keep
      their stored jaccard: it is a pure function of two unchanged texts.

    What is recomputed per refresh but stays NARROW (no text, no hashing):
    the candidate-pair derivation from stored signatures. It must be — the
    hot-bucket cap makes the candidate set non-monotonic in BOTH
    directions (a wave can push a bucket over the cap, erasing pairs
    between untouched docs, or deletes can drop it back under, conjuring
    pairs between docs nobody touched). Diffing the fresh candidate set
    against the stored pair ledger is exactly what keeps those cap flips
    correct: vanished candidates tombstone, appeared candidates verify.

    Pair ledger (``pairs/`` under ``index_root``, versioned like the
    signature store): (id_a, id_b, jaccard, snapshot_id, _dead); newest
    stamp per pair wins on read. FAILED verifications are stored too
    (jaccard < threshold) so a pair is never re-verified while both texts
    stand. Crash between append and cursor-save re-appends identical rows
    under the same stamp — idempotent, same contract as the index.

    Equality (pinned by tests/test_neardup_view.py): after every refresh,
    ``kept_docs`` == the batch chain (lsh_candidate_pairs -> jaccard >=
    threshold -> connected_components -> canonical anti-join) run from
    scratch on the table's current text."""

    def __init__(self, index: IncrementalLshIndex, threshold: float = 0.5):
        self.index = index
        self.threshold = threshold

    # ------------------------------------------------------------- state
    @property
    def _state_path(self) -> str:
        return os.path.join(self.index.index_root, PAIR_STATE_FILE)

    @property
    def _pairs_dir(self) -> str:
        return os.path.join(self.index.index_root, "pairs")

    def last_refreshed_snapshot(self) -> int | None:
        if not os.path.exists(self._state_path):
            return None
        with open(self._state_path) as f:
            return json.load(f)["last_snapshot_id"]

    def _save_cursor(self, snapshot_id: int) -> None:
        tmp = f"{self._state_path}.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump({"last_snapshot_id": snapshot_id,
                       "threshold": self.threshold}, f)
        os.replace(tmp, self._state_path)

    # -------------------------------------------------------------- text
    def _verify(self, spark: SparkSession, cand: DataFrame,
                point_convs: "list[str] | None") -> DataFrame:
        """jaccard for each candidate pair, reading text only for the
        involved conversations (point-pruned when the span is small)."""
        from sfr_ingest_pipeline_spark.functions.dedup import ngram_jaccard

        table = TranscriptTable.load(self.index.table_root)
        sigs = self.index.signatures(spark).select("doc_id", "conv_id",
                                                   "turn_idx")
        if point_convs is not None:
            from sfr_ingest_pipeline_spark.functions.xxh import bucket_of

            buckets = {bucket_of(c, table.n_buckets) for c in point_convs}
            scan = table.scan(spark, buckets=buckets).filter(
                F.col("conv_id").isin(point_convs)
            )
        else:
            involved = (
                cand.select(F.col("id_a").alias("doc_id"))
                .unionByName(cand.select(F.col("id_b").alias("doc_id")))
                .join(sigs, "doc_id")
                .select("conv_id").distinct()
            )
            scan = table.scan(spark).join(involved, "conv_id", "left_semi")
        texts = scan.join(
            sigs.select("doc_id", "conv_id", "turn_idx"),
            ["conv_id", "turn_idx"],
        ).select("doc_id", F.col(self.index.text_col).alias("_text"))
        a = texts.select(F.col("doc_id").alias("id_a"),
                         F.col("_text").alias("_ta"))
        b = texts.select(F.col("doc_id").alias("id_b"),
                         F.col("_text").alias("_tb"))
        return (
            cand.join(a, "id_a").join(b, "id_b")
            .select(
                "id_a", "id_b",
                ngram_jaccard(F.col("_ta"), F.col("_tb"),
                              self.index.k, mode=self.index.mode)
                .alias("jaccard"),
            )
        )

    def _stored(self, spark: SparkSession) -> DataFrame | None:
        if not os.path.isdir(self._pairs_dir):
            return None
        cur = lww_reduce(spark.read.parquet(self._pairs_dir), ["id_a", "id_b"],
                         ["snapshot_id"], payload_cols=["jaccard", "_dead"])
        return cur.filter(~F.col("_dead")).drop("_dead")

    # ------------------------------------------------------------ refresh
    def refresh(self, spark: SparkSession) -> dict:
        """Advance index + pair ledger to the table's current snapshot."""
        from sfr_ingest_pipeline_spark.streaming.incremental import (
            _POINT_PRUNE_LIMIT,
        )

        idx_stats = self.index.refresh(spark)
        cur = idx_stats["snapshot_id"]
        last = self.last_refreshed_snapshot()
        if last == cur:
            return {"mode": "noop", "snapshot_id": cur, "pairs_verified": 0,
                    "pairs_tombstoned": 0, **{"docs_signed":
                                              idx_stats["docs_signed"]}}

        cand = self.index.candidate_pairs(spark).persist()
        stored = self._stored(spark) if last is not None else None
        if stored is None:
            need = cand
            dead = None
            point_convs = None
        else:
            table = TranscriptTable.load(self.index.table_root)
            changes = table.changes_between(spark, last, cur)
            touched = changes.select(
                F.concat_ws("#", F.col("conv_id"),
                            F.col("turn_idx").cast("string")).alias("_tid")
            ).distinct()
            # pairs whose stored jaccard may be stale: an endpoint's text
            # changed (update) or vanished (delete)
            invalid = (
                stored.join(touched, stored["id_a"] == touched["_tid"],
                            "left_semi")
                .unionByName(
                    stored.join(touched, stored["id_b"] == touched["_tid"],
                                "left_semi")
                ).select("id_a", "id_b").distinct()
            )
            reusable = stored.join(invalid, ["id_a", "id_b"], "left_anti")
            need = cand.join(reusable.select("id_a", "id_b"),
                             ["id_a", "id_b"], "left_anti").persist()
            dead = (
                stored.select("id_a", "id_b")
                .join(cand, ["id_a", "id_b"], "left_anti")
            )
            # text for the verify batch must cover BOTH endpoints of every
            # need pair (a cap-flip pair can sit between two UNTOUCHED
            # docs), so derive the conv list from the pairs themselves
            sigs = self.index.signatures(spark)
            involved_convs = (
                need.select(F.col("id_a").alias("doc_id"))
                .unionByName(need.select(F.col("id_b").alias("doc_id")))
                .join(sigs.select("doc_id", "conv_id"), "doc_id")
                .select("conv_id").distinct()
            )
            conv_rows = involved_convs.limit(_POINT_PRUNE_LIMIT + 1).collect()
            point_convs = (
                [r.conv_id for r in conv_rows]
                if len(conv_rows) <= _POINT_PRUNE_LIMIT else None
            )

        verified = self._verify(spark, need, point_convs)
        obs_v = Observation(f"ndv_{uuid.uuid4().hex[:6]}")
        out = verified.observe(obs_v, F.count(F.lit(1)).alias("n")) \
            .withColumn("_dead", F.lit(False))
        n_dead = 0
        if dead is not None:
            obs_d = Observation(f"ndd_{uuid.uuid4().hex[:6]}")
            out = out.unionByName(
                dead.withColumn("jaccard", F.lit(None).cast("double"))
                .withColumn("_dead", F.lit(True))
                .observe(obs_d, F.count(F.lit(1)).alias("n"))
            )
        out.withColumn("snapshot_id", F.lit(cur).cast("long")) \
            .write.mode("append").parquet(self._pairs_dir)
        if dead is not None:
            n_dead = int(obs_d.get["n"])
        cand.unpersist()
        if need is not cand:
            need.unpersist()
        self._save_cursor(cur)
        return {"mode": "bootstrap" if last is None else "delta",
                "snapshot_id": cur,
                "docs_signed": idx_stats["docs_signed"],
                "pairs_verified": int(obs_v.get["n"]),
                "pairs_tombstoned": n_dead,
                "point_pruned": bool(last is not None and point_convs)}

    # --------------------------------------------------------------- read
    def edges(self, spark: SparkSession) -> DataFrame:
        """Current verified near-dup pairs (jaccard >= threshold)."""
        stored = self._stored(spark)
        if stored is None:
            raise FileNotFoundError(
                f"no pair ledger at {self._pairs_dir}; run refresh() first"
            )
        return stored.filter(F.col("jaccard") >= self.threshold)

    def kept_docs(self, spark: SparkSession) -> DataFrame:
        """Current kept set: live docs minus non-canonical cluster members
        — equals the batch composed pipeline on the table's text."""
        from sfr_ingest_pipeline_spark.functions.graph import (
            connected_components,
        )

        live = self.index.signatures(spark).select("doc_id")
        comp = connected_components(self.edges(spark), "id_a", "id_b")
        dropped = comp.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias("doc_id")
        )
        return live.join(dropped, "doc_id", "left_anti")
