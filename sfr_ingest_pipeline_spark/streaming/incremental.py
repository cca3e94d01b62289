"""Incremental view maintenance (IVM): a derived aggregate table kept in
sync with the transcripts table purely from its changelog — O(changes) per
refresh, never O(table).

This is the CDC read-side counterpart of the MERGE write side (SURVEY.md
§2.1 S7 / §2.9): a downstream consumer that tails ``changes_between`` with
its own durable cursor instead of re-scanning the table. The maintained
view here is the per-conversation rollup every serving layer wants —
``n_turns`` (count), ``total_chars`` (sum of text length), ``last_ts``
(max event time) — chosen because it exercises BOTH classes of aggregate:

* **distributive** (count/sum): self-maintainable from the signed
  changelog alone. ``changes_between(pre_post=True)`` emits Delta-CDF
  shaped rows (insert / delete / update_preimage / update_postimage), so
  each row carries a sign (+1 for insert/postimage, −1 for
  delete/preimage) and the per-group delta is one aggregation over the
  change rows — no table read at all.
* **non-distributive** (max): maintainable from deltas only while the old
  maximum provably survives. The refresh derives, per touched group,
  ``max_added_ts`` and ``max_removed_ts`` from the signed rows and applies
  the exact rule: if nothing removed reached the stored max, the new max
  is ``greatest(stored, max_added)``; if something at/above the stored max
  was removed but an added row dominates it, the added row IS the max;
  only when the reigning max was removed and nothing added replaces it
  does the group fall back to a pruned recompute from the table
  (bucket-pruned scan ∘ semi-join on the affected conv_ids). The
  recompute set is typically tiny (counters report it) and bounded by the
  groups whose maximum was deleted — a delete-heavy adversary degrades to
  touched-group recompute, never to a table scan.

Storage follows the ``materialize.py`` serving-view pattern: refreshed
groups are APPENDED stamped with the source table ``snapshot_id`` (bulk-
upsert analog), ``read`` resolves newest-version-per-group and drops
``n_turns = 0`` deletion markers, ``compact`` rewrites to one physical row
per group. The refresh cursor (`last snapshot id`) is persisted in the
view directory AFTER the data append; a crash in between re-appends the
same rows under the same stamp on retry — identical content, so the LWW
read is unaffected (idempotent recovery, same contract as the batch-id
marker on the write side).
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from sfr_ingest_pipeline_spark.operators.lww import lww_reduce
from sfr_ingest_pipeline_spark.table.transcript_table import TranscriptTable

STATE_FILE = "_VIEW_STATE.json"
# above this many max-removed groups, skip driver-side bucket pruning and
# semi-join against a full scan instead (one pass, no huge isin literal)
_POINT_PRUNE_LIMIT = 10_000

_ADD = ("insert", "update_postimage")


class IncrementalAggView:
    """Per-conversation rollup maintained from the table changelog.

    ``view_root`` holds versioned parquet + the refresh cursor;
    ``table_root`` is the source :class:`TranscriptTable`.
    """

    def __init__(self, view_root: str, table_root: str):
        self.view_root = view_root
        self.table_root = table_root
        os.makedirs(view_root, exist_ok=True)

    # ------------------------------------------------------------- cursor
    @property
    def _state_path(self) -> str:
        return os.path.join(self.view_root, STATE_FILE)

    def last_refreshed_snapshot(self) -> int | None:
        if not os.path.exists(self._state_path):
            return None
        with open(self._state_path) as f:
            return json.load(f)["last_snapshot_id"]

    def _save_cursor(self, snapshot_id: int) -> None:
        tmp = f"{self._state_path}.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump({"last_snapshot_id": snapshot_id}, f)
        os.replace(tmp, self._state_path)

    # ------------------------------------------------------------ refresh
    def refresh(self, spark: SparkSession) -> dict:
        """Advance the view to the table's current snapshot. Returns
        counters: mode, groups written, and how many groups needed the
        max-recompute fallback."""
        table = TranscriptTable.load(self.table_root)
        cur = table.snapshot.snapshot_id
        last = self.last_refreshed_snapshot()
        if last == cur:
            return {"mode": "noop", "snapshot_id": cur, "groups": 0,
                    "recomputed_groups": 0}
        if last is None:
            return self._bootstrap(spark, table)
        return self._delta_refresh(spark, table, last, cur)

    def _bootstrap(self, spark: SparkSession, table: TranscriptTable) -> dict:
        full = _rollup(table.scan(spark)).withColumn(
            "snapshot_id", F.lit(table.snapshot.snapshot_id).cast("long")
        )
        obs = Observation(f"ivm_{uuid.uuid4().hex[:6]}")
        full = full.observe(obs, F.count(F.lit(1)).alias("n"))
        full.write.mode("overwrite").parquet(self._data_dir)
        self._save_cursor(table.snapshot.snapshot_id)
        return {"mode": "bootstrap", "snapshot_id": table.snapshot.snapshot_id,
                "groups": int(obs.get["n"]), "recomputed_groups": 0}

    def _delta_refresh(
        self, spark: SparkSession, table: TranscriptTable, last: int, cur: int
    ) -> dict:
        sign = F.when(F.col("_change_type").isin(*_ADD), F.lit(1)).otherwise(
            F.lit(-1)
        )
        chars = F.length(F.coalesce(F.col("text"), F.lit("")))
        delta = (
            table.changes_between(spark, last, cur, pre_post=True)
            .withColumn("_sign", sign)
            .groupBy("conv_id")
            .agg(
                F.sum("_sign").alias("d_turns"),
                F.sum(F.col("_sign") * chars).alias("d_chars"),
                F.max(F.when(F.col("_sign") > 0, F.col("ts"))).alias("max_added_ts"),
                F.max(F.when(F.col("_sign") < 0, F.col("ts"))).alias("max_removed_ts"),
            )
        )
        old = self.read(spark).select(
            "conv_id",
            F.col("n_turns").alias("old_turns"),
            F.col("total_chars").alias("old_chars"),
            F.col("last_ts").alias("old_last_ts"),
        )
        # right join: every touched group, with its prior state when one exists
        merged = old.join(delta, "conv_id", "right").select(
            "conv_id",
            (F.coalesce("old_turns", F.lit(0)) + F.col("d_turns")).alias("n_turns"),
            (F.coalesce("old_chars", F.lit(0)) + F.col("d_chars")).alias("total_chars"),
            "old_last_ts", "max_added_ts", "max_removed_ts",
        )
        # max(ts) maintenance rule — exact, falls back only when the reigning
        # max was removed and no added row dominates it
        max_survives = F.col("max_removed_ts").isNull() | (
            F.col("old_last_ts").isNotNull()
            & (F.col("max_removed_ts") < F.col("old_last_ts"))
        )
        added_dominates = F.col("max_added_ts").isNotNull() & (
            F.col("old_last_ts").isNull()
            | (F.col("max_added_ts") >= F.col("old_last_ts"))
        )
        resolved = merged.withColumn(
            "last_ts",
            F.when(F.col("n_turns") <= 0, F.lit(None).cast("timestamp"))
            .when(max_survives, F.greatest("old_last_ts", "max_added_ts"))
            .when(added_dominates, F.col("max_added_ts")),
        )
        resolved = resolved.localCheckpoint(eager=True)
        # one job over the checkpointed frame answers both control-flow
        # questions (corruption guard + recompute-fallback size)
        stats = resolved.agg(
            F.sum((F.col("n_turns") < 0).cast("long")).alias("bad"),
            F.sum(((F.col("n_turns") > 0) & F.col("last_ts").isNull()).cast("long")).alias("need"),
        ).first()
        if stats["bad"]:
            raise RuntimeError(
                f"incremental refresh produced {stats['bad']} negative group "
                "counts — cursor/changelog mismatch (was the view refreshed "
                "against a rolled-back snapshot range?)"
            )
        need = resolved.filter(
            (F.col("n_turns") > 0) & F.col("last_ts").isNull()
        ).select("conv_id")
        n_recompute = int(stats["need"] or 0)
        if n_recompute:
            recomputed = self._recompute_groups(spark, table, need, n_recompute)
            resolved = (
                resolved.filter(F.col("last_ts").isNotNull() | (F.col("n_turns") <= 0))
                .unionByName(recomputed, allowMissingColumns=False)
            )
        out = resolved.select(
            "conv_id",
            F.greatest("n_turns", F.lit(0)).cast("long").alias("n_turns"),
            F.when(F.col("n_turns") > 0, F.col("total_chars"))
            .otherwise(F.lit(0)).cast("long").alias("total_chars"),
            "last_ts",
            F.lit(cur).cast("long").alias("snapshot_id"),
        )
        obs = Observation(f"ivm_{uuid.uuid4().hex[:6]}")
        out = out.observe(obs, F.count(F.lit(1)).alias("n"))
        out.write.mode("append").parquet(self._data_dir)
        self._save_cursor(cur)
        return {"mode": "delta", "snapshot_id": cur,
                "groups": int(obs.get["n"]), "recomputed_groups": n_recompute}

    def _recompute_groups(
        self, spark: SparkSession, table: TranscriptTable,
        need: DataFrame, n_need: int,
    ) -> DataFrame:
        """Exact rollup for groups whose max was invalidated: bucket+range
        pruned point scans when the set is small, one semi-joined scan when
        it is not. Output schema matches the resolved frame pre-projection."""
        if n_need <= _POINT_PRUNE_LIMIT:
            from sfr_ingest_pipeline_spark.functions.xxh import bucket_of

            ids = [r.conv_id for r in need.collect()]
            buckets = {bucket_of(c, table.n_buckets) for c in ids}
            scan = table.scan(spark, buckets=buckets).filter(
                F.col("conv_id").isin(ids)
            )
        else:
            scan = table.scan(spark).join(need, "conv_id", "left_semi")
        return _rollup(scan).select(
            "conv_id", "n_turns", "total_chars",
            F.lit(None).cast("timestamp").alias("old_last_ts"),
            F.lit(None).cast("timestamp").alias("max_added_ts"),
            F.lit(None).cast("timestamp").alias("max_removed_ts"),
            F.col("last_ts"),
        )

    # --------------------------------------------------------------- read
    @property
    def _data_dir(self) -> str:
        return os.path.join(self.view_root, "data")

    def read(self, spark: SparkSession) -> DataFrame:
        """Current rollup per conversation (newest version wins, deletion
        markers dropped)."""
        if not os.path.isdir(self._data_dir):
            return spark.createDataFrame(
                [], "conv_id string, n_turns long, total_chars long, last_ts timestamp"
            )
        return lww_reduce(
            spark.read.parquet(self._data_dir), ["conv_id"], ["snapshot_id"],
            payload_cols=["n_turns", "total_chars", "last_ts"],
        ).filter(F.col("n_turns") > 0)

    def compact(self, spark: SparkSession) -> int:
        """One physical row per group; drops superseded versions/markers."""
        import shutil

        cur_sid = self.last_refreshed_snapshot()
        cur = self.read(spark).withColumn(
            "snapshot_id", F.lit(cur_sid).cast("long")
        )
        obs = Observation(f"ivmc_{uuid.uuid4().hex[:6]}")
        cur = cur.observe(obs, F.count(F.lit(1)).alias("n"))
        tmp = f"{self._data_dir}.compact-{uuid.uuid4().hex[:8]}"
        cur.write.mode("overwrite").parquet(tmp)
        old = f"{self._data_dir}.old-{uuid.uuid4().hex[:8]}"
        os.replace(self._data_dir, old)
        os.replace(tmp, self._data_dir)
        shutil.rmtree(old)
        return int(obs.get["n"])


def _rollup(transcripts: DataFrame) -> DataFrame:
    """The maintained aggregate, as a plain query (bootstrap + recompute +
    the full-recompute oracle in tests all share this definition)."""
    return transcripts.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.sum(F.length(F.coalesce(F.col("text"), F.lit(""))))
        .cast("long").alias("total_chars"),
        F.max("ts").alias("last_ts"),
    )
