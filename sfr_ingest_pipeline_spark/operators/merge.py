"""Merge-on-read MERGE INTO — the engine's flagship operator (SURVEY.md §2.11).

``MERGE INTO`` needs a v2 row-level-op catalog that this sandbox lacks
(SURVEY.md §0.4), so the engine implements Iceberg MERGE semantics as
DataFrame algebra inside ``foreachBatch``:

    MERGE INTO target t USING batch_lww s
    ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx
    WHEN MATCHED AND lww(s) > lww(t) AND s.op = 'D' THEN DELETE (tombstone)
    WHEN MATCHED AND lww(s) > lww(t)                THEN UPDATE SET *
    WHEN MATCHED                                    THEN keep t  (conflict)
    WHEN NOT MATCHED                                THEN INSERT * (or tombstone
                                                        for op='D' so late
                                                        older events lose)

Physical strategy — *fused* LWW + MERGE (one wide shuffle, not four):

  batch events (src='s')  UNION ALL  pruned target rows (src='t')
      -> groupBy(conv_id, turn_idx).agg(
             max_by(payload, (ts, event_seq, src_rank)),   # LWW winner;
             sum(src='s'), max(src='t'))                   # counter inputs
      -> winner rows + counters via Observation (zero extra passes)
      -> write exchange to shuffle_partitions tasks
         (TranscriptTable.write_bucketed), then IN each write task:
         normalize text (Arrow pandas UDF), then redact_pii, on rows the
         batch changed only — carried rows were finished when written
      -> bucketed write -> atomic commit (records the text policy)

Why this shape at 100 TB:
  * within-batch duplicate storms (hot keys) collapse in the MAP-SIDE partial
    aggregate before the shuffle — the classic combiner; an optional salted
    pre-phase (config.n_salt) adds a (key, salt) reduce for pathological
    single-key floods (BASELINE.json:6 "salted repartitioning");
  * no join: the union + max_by is equivalent to the full-outer merge join
    but needs ONE clustering of the data instead of two sorted sides;
    src_rank makes target rows win (ts, event_seq) ties so cross-batch
    re-deliveries count as conflicts, never double-apply;
  * the pandas UDF sees only O(keys) changed winner rows, not O(events)
    raw rows, and runs in every write task: the aggregate's reduce is
    coalesced by AQE (one task for a small batch), the write is not;
  * file pruning: only buckets named by the batch's conv_ids are read;
    untouched files are carried forward by manifest reference;
  * one write path: a touched bucket either gets its changed rows appended
    as a delta file — O(batch) writes — or, once it holds a threshold of
    delta commits, is compacted back to base form in the same write job;
    readers LWW-reduce base+deltas. config.merge_mode only sets that
    threshold: "mor" uses compact_delta_files, "cow" is the threshold 0
    (every touched bucket rewritten every batch). The fused aggregation
    is layout-agnostic: multi-version target rows entering the union
    resolve to current state by the same max_by;
  * two MERGE semantics (config.column_merge): "row" replaces the whole row
    with the LWW winner's payload; "coalesce" is the reference's field-level
    LWW (update-if-non-null per column, SURVEY.md §3.1 E2) via the
    operators/lww.py coalesce_* aggregation stages — same single shuffle,
    candidate structs per payload column instead of one winner struct, and
    MoR persists rows whose STATE changed (a stale conflict event can fill
    nulls), disambiguated on read by commit recency (commit_seq_col).

Counter contract matches oracle.simulate_replay exactly:
  dedup_dropped   = sum over keys of (n_source_rows - 1)
  events_applied  = keys whose winner came from the batch
  merge_conflicts = keys with batch rows whose winner stayed the target row

Reference parity: composes the reference's identifier lookup, insert/update
routing and field-merge loop (lambdas/sfr-db-manager/lib/dbManager.py,
lambdas/sfr-db-updater/lib/dbUpdater.py, core/model/work.py in
NYPL/sfr-ingest-pipeline, reconstructed — SURVEY.md §2.3 J1/J2, §3.1 E1/E2)
into one declarative Spark plan.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sfr_ingest_pipeline_spark.config import DEFAULT_CONFIG, EngineConfig
from sfr_ingest_pipeline_spark.functions.normalize import normalize_text_udf
from sfr_ingest_pipeline_spark.operators.lww import (
    coalesce_agg,
    coalesce_candidates,
    coalesce_finalize,
)
from sfr_ingest_pipeline_spark.schema import coercion_kind, widen_schema
from sfr_ingest_pipeline_spark.table.transcript_table import (
    CommitConflictError,
    TranscriptTable,
    bucket_expr,
    commit_seq_col,
    physical_schema,
)

_EVENT_META = ("op", "event_seq")


def _commit_or_skip(table: TranscriptTable, batch_id: int, *args, **kwargs):
    """CAS commit with ingest-level conflict handling: if a concurrent
    writer advanced the batch marker past ours, this batch was applied by
    someone else — an idempotent skip, not an error. Any other conflict
    (overlapping bucket rewrite, schema/layout change) propagates for the
    caller to re-run. Returns (table_after, skipped)."""
    try:
        return table.commit(*args, **kwargs), False
    except CommitConflictError:
        latest = TranscriptTable.load(table.root)
        last = latest.last_batch_id
        if last is not None and last >= batch_id:
            return latest, True
        raise


@dataclass
class MergeResult:
    batch_id: int
    committed: bool
    skipped: bool = False
    rows_in: int = 0
    dedup_dropped: int = 0
    events_applied: int = 0
    merge_conflicts: int = 0
    touched_buckets: list[int] = field(default_factory=list)
    snapshot_id: int | None = None
    elapsed_sec: float = 0.0
    # conv_id-range file pruning telemetry (files inside touched buckets)
    files_read: int = 0
    files_pruned: int = 0
    # malformed events routed to the dead-letter sink (config.quarantine_dir)
    events_quarantined: int = 0

    def counters(self) -> dict:
        return {
            "rows_in": self.rows_in,
            "dedup_dropped": self.dedup_dropped,
            "events_applied": self.events_applied,
            "merge_conflicts": self.merge_conflicts,
            "events_quarantined": self.events_quarantined,
        }


def _reject_reason_col(df: DataFrame, config: EngineConfig):
    """First failing validity rule per row (null = valid). A change event
    the engine cannot place is one with a bad op code, a null key (no
    MERGE identity) or a null LWW order column (conflict resolution
    undefined) — the classes a real transport actually delivers."""
    cols = set(df.columns)
    rules: list = []
    if "op" in cols:
        rules.append(
            (F.col("op").isNull() | ~F.col("op").isin("I", "U", "D"),
             F.concat(F.lit("bad_op:"), F.coalesce(F.col("op"), F.lit("null"))))
        )
    for c in config.key_cols:
        if c in cols:
            rules.append((F.col(c).isNull(), F.lit(f"null_key:{c}")))
    for c in config.order_cols:
        if c in cols:
            rules.append((F.col(c).isNull(), F.lit(f"null_order:{c}")))
    reason = F.lit(None).cast("string")
    for cond, r in reversed(rules):
        reason = F.when(cond, r).otherwise(reason)
    return reason


def _quarantine_invalid(
    batch_df: DataFrame, batch_id: int, config: EngineConfig
) -> tuple[DataFrame, int]:
    """Dead-letter routing (opt-in via ``config.quarantine_dir``): write
    malformed rows to ``<dir>/batch-<id>/`` tagged with ``_reject_reason``
    and ``_batch_id``, return (valid rows, quarantined count).

    Idempotent with the batch marker: a re-delivered committed batch skips
    BEFORE this runs, and a crash-retry overwrites the same batch dir.
    One extra scan of the batch parquet only when enabled (the engine's
    measured re-decode-over-cache tradeoff); the quarantine write job
    carries the count as an Observation, so no separate count pass."""
    import shutil

    reason = _reject_reason_col(batch_df, config)
    bad_dir = os.path.join(config.quarantine_dir, f"batch-{batch_id:08d}")
    obs = Observation(f"quar_{batch_id}_{uuid.uuid4().hex[:6]}")
    bad = (
        batch_df.withColumn("_reject_reason", reason)
        .filter(F.col("_reject_reason").isNotNull())
        .withColumn("_batch_id", F.lit(batch_id))
        .observe(obs, F.count(F.lit(1)).alias("n"))
    )
    bad.write.mode("overwrite").parquet(bad_dir)
    try:
        n_bad = int(obs.get["n"] or 0)
    except Exception:  # pragma: no cover - empty-write AQE edge, see above
        # The Observation failed, NOT the count: fall back to an explicit
        # count pass. Assuming 0 here would silently ingest malformed rows
        # (and delete their dead-letter dir) — the exact failure the
        # quarantine sink exists to prevent.
        n_bad = batch_df.filter(
            _reject_reason_col(batch_df, config).isNotNull()
        ).count()
    if n_bad == 0:
        shutil.rmtree(bad_dir, ignore_errors=True)
        return batch_df, 0
    return batch_df.filter(_reject_reason_col(batch_df, config).isNull()), n_bad


def _null_fill(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project df to `schema`'s columns, null-filling missing ones (additive
    schema evolution on both sides of the merge) and casting present ones to
    the table's declared types so file types never drift from the snapshot
    schema (e.g. an int64 batch column into an int32 table column).

    Integral narrowings (coercion_kind "checked") guard every value with a
    cast-roundtrip and raise on overflow — a silent wraparound would
    corrupt keys; widen_schema already rejected lossy non-integral casts."""
    have = {f.name: f.dataType for f in df.schema.fields}
    cols = []
    for f in schema.fields:
        if f.name in have:
            c = F.col(f.name)
            if have[f.name] != f.dataType:
                if coercion_kind(have[f.name], f.dataType) == "checked":
                    # try_cast (no ANSI throw) + roundtrip guard: raise a
                    # deterministic engine error on overflow whether or not
                    # spark.sql.ansi.enabled is on
                    tried = c.try_cast(f.dataType)
                    ok = c.isNull() | (
                        tried.isNotNull() & (tried.cast(have[f.name]) == c)
                    )
                    c = F.when(ok, tried).otherwise(
                        F.raise_error(
                            F.concat(
                                F.lit(
                                    f"value overflows table column "
                                    f"{f.name!r} ({f.dataType.simpleString()}): "
                                ),
                                c.cast("string"),
                            )
                        )
                    )
                else:
                    c = c.cast(f.dataType)
            cols.append(c.alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    extra = [F.col(c) for c in df.columns if c not in {f.name for f in schema.fields}]
    return df.select(*cols, *extra)


def _merge_agg(df: DataFrame, key_cols: list[str], carry_cols: list[str],
               order_cols: list[str], tie_wins: str = "state") -> DataFrame:
    """One LWW+merge aggregation level. ``carry_cols`` are the payload+meta
    columns riding inside the winner struct; ``_n_s`` (batch-row count) and
    ``_has_t`` fold additively so the salted pre-phase composes.

    ``tie_wins``: exact-order ties go to stored state (``_src_rank`` asc in
    the winner order — re-deliveries die) or to the batch row (rank negated
    — the replication apply for coalesce-source changelogs, see
    EngineConfig.tie_wins)."""
    tie = (
        F.col("_src_rank") if tie_wins == "state"
        else (-F.col("_src_rank")).cast("int")
    )
    order = F.struct(*[F.col(c) for c in order_cols], tie.alias("_tie"))
    winner = F.max_by(
        F.struct(*[F.col(c) for c in carry_cols], F.col("_src_rank")), order
    ).alias("_w")
    group = df.groupBy(*key_cols).agg(
        winner,
        F.sum("_n_s").alias("_n_s"),
        F.max("_has_t").alias("_has_t"),
    )
    out = group.select(
        *key_cols,
        *[F.col(f"_w.{c}").alias(c) for c in carry_cols],
        F.col("_w._src_rank").alias("_src_rank"),
        "_n_s",
        "_has_t",
    )
    return out


def apply_batch(
    spark: SparkSession,
    table_root: str,
    batch_df: DataFrame,
    batch_id: int,
    config: EngineConfig = DEFAULT_CONFIG,
    normalize: bool = True,
) -> MergeResult:
    """Apply one microbatch of change events to the table. Idempotent per
    batch_id: re-delivery of a committed batch is a no-op (BASELINE.json:6
    'idempotent batch-id commit markers')."""
    t0 = time.time()
    table = TranscriptTable.load(table_root)

    last = table.last_batch_id
    if last is not None and batch_id <= last:
        return MergeResult(batch_id, committed=False, skipped=True,
                           elapsed_sec=time.time() - t0)

    quarantined = 0
    if config.quarantine_dir is not None:
        batch_df, quarantined = _quarantine_invalid(batch_df, batch_id, config)

    key_cols = list(config.key_cols)
    order_cols = list(config.order_cols)
    # the snapshot's recorded key/order cols are authoritative for stored
    # layout (read paths and the _del_hw struct derive from them); a config
    # that disagrees would write rows the table's own scan misreads
    if (
        key_cols != list(table.snapshot.key_cols)
        or order_cols != list(table.snapshot.order_cols)
    ):
        raise ValueError(
            f"config key/order cols {config.key_cols}/{config.order_cols} "
            f"differ from the table's recorded "
            f"{tuple(table.snapshot.key_cols)}/{tuple(table.snapshot.order_cols)}"
        )
    # normalize/redact touch only the rows a batch changes (finish_text
    # below), so one table keeps one text policy for its whole history
    policy = {"normalize": bool(normalize), "redact_pii": bool(config.redact_pii)}
    recorded = table.snapshot.properties.get("text_policy")
    if recorded is not None and recorded != policy:
        raise ValueError(
            f"text policy {policy} differs from the table's recorded {recorded}"
        )

    # ---- schema evolution (ALTER-on-write) --------------------------------
    incoming_logical = T.StructType(
        [f for f in batch_df.schema.fields if f.name not in _EVENT_META]
    )
    logical = widen_schema(table.schema, incoming_logical, coerce_existing=True)
    phys = physical_schema(logical, tuple(order_cols))
    phys_cols = [f.name for f in phys.fields]
    carry_cols = [c for c in phys_cols if c not in key_cols]
    schema_changed = logical.jsonValue() != table.schema.jsonValue()

    # ---- source side: physical shape + src markers ------------------------
    src = _null_fill(batch_df, logical)
    src = src.withColumn("_deleted", F.col("op") == F.lit("D"))
    # batch events carry no stored delete memory
    src = src.withColumn(
        "_del_hw", F.lit(None).cast(phys["_del_hw"].dataType)
    )
    src = src.select(*phys_cols).withColumns(
        {"_src_rank": F.lit(0), "_n_s": F.lit(1).cast("long"),
         "_has_t": F.lit(False), "_commit_seq": F.lit(0).cast("long")}
    )

    # ---- touched buckets + per-bucket conv_id ranges (manifest pruning) ----
    # NOTE the batch is deliberately NOT persisted across its two jobs
    # (bucket discovery, then the merge): caching deserialized rows measured
    # ~35% SLOWER than re-decoding the zstd parquet at local[8] — columnar
    # decode is cheaper than row-cache memory traffic
    sc = spark.sparkContext
    sc.setJobDescription(f"merge[{batch_id}]: bucket discovery")
    obs_in = Observation(f"rows_in_{batch_id}_{uuid.uuid4().hex[:6]}")
    bucketed = batch_df.select(
        bucket_expr(F.col("conv_id"), table.n_buckets).alias("_bucket"),
        F.col("conv_id"),
    ).observe(obs_in, F.count(F.lit(1)).alias("n"))
    ranges = {
        r["_bucket"]: (r["mn"], r["mx"])
        for r in bucketed.groupBy("_bucket").agg(
            F.min("conv_id").alias("mn"), F.max("conv_id").alias("mx")
        ).collect()
    }
    touched = sorted(ranges)
    rows_in = int(obs_in.get["n"])

    if not touched:
        # empty batch: still commit the batch-id marker for idempotency
        new_table, was_skipped = _commit_or_skip(
            table, batch_id,
            set(), [], _props(batch_id, rows_in, 0, 0, 0, {}, policy,
                              quarantined=quarantined),
            schema=logical if schema_changed else None,
        )
        return MergeResult(
            batch_id, committed=not was_skipped, skipped=was_skipped,
            rows_in=rows_in, events_quarantined=quarantined,
            snapshot_id=new_table.snapshot.snapshot_id,
            elapsed_sec=time.time() - t0,
        )

    # ---- compaction decision (metadata only; needed before the scan) -----
    # A touched bucket is compacted (rewritten to base form) once it holds
    # `threshold` delta commits; every other touched bucket gets only its
    # changed rows appended as a delta. "cow" is the threshold 0: every
    # touched bucket is rewritten every batch.
    threshold = 0 if config.merge_mode == "cow" else config.compact_delta_files
    delta_counts = table.delta_file_counts(set(touched))
    compact = {b for b in touched if delta_counts.get(b, 0) >= threshold}

    # ---- target side: bucket- AND conv_id-range-pruned scan ----------------
    # within a touched bucket, a file whose (conv_id_min, conv_id_max) range
    # does not intersect the batch's range for that bucket contains NO batch
    # key: it cannot change any winner or counter, so it is not read. If its
    # bucket is being compacted the unread file is carried forward by
    # reference — exact, because its conversations are disjoint from the
    # rewrite's by the same range test. A compacted bucket that holds any
    # delta file is read in full instead: the compacted base must fold
    # every stored version, or a carried-forward delta would lose the
    # commit-recency tie-break to the rewritten base (a coalesce stale fill
    # keeps its (ts, event_seq), so recency is all that orders them).
    # (Pruning pays off when conv_ids cluster — e.g. time-prefixed ids with
    # update-recent workloads, or MoR delta files from conv-localized
    # batches; uniform-random batches touch every file and prune nothing.)
    bucket_files = table.files_in_buckets(set(touched))
    no_prune = {b for b in compact if delta_counts.get(b, 0) > 0}

    # Bloom point-probe (table/bloom.py): when the batch's distinct conv
    # set is small (point corrections, conv-localized late events), collect
    # it and test each candidate file's filter — prunes the scattered case
    # the range envelope can't. The extra collect is bounded by
    # bloom_probe_rows; big batches skip it (every file would probably hit
    # anyway, so pruning is impossible regardless of mechanism).
    probe_hashes: dict[int, list] | None = None
    bloom_reader = None
    if (
        config.bloom_probe_rows
        and rows_in <= config.bloom_probe_rows
        and any(f.bloom_path for f in bucket_files)
    ):
        from sfr_ingest_pipeline_spark.table.bloom import BloomReader, hash_keys

        by_bucket: dict[int, set] = {}
        for r in bucketed.select("_bucket", "conv_id").distinct().collect():
            by_bucket.setdefault(r["_bucket"], set()).add(r["conv_id"])
        probe_hashes = {b: hash_keys(cs) for b, cs in by_bucket.items()}
        bloom_reader = BloomReader(table.root)

    read_files, carried = [], []
    for f in bucket_files:
        mn, mx = ranges[f.bucket]
        intersects = not (
            (f.conv_id_max is not None and f.conv_id_max < mn)
            or (f.conv_id_min is not None and f.conv_id_min > mx)
        )
        if intersects and probe_hashes is not None and f.bucket not in no_prune:
            intersects = bloom_reader.may_contain_any(
                f, probe_hashes.get(f.bucket, ())
            )
        if f.bucket in no_prune or intersects:
            read_files.append(f)
        else:
            carried.append(f)
    carry_paths = {f.path for f in carried if f.bucket in compact}

    # Row-mode payload pruning (guide §8: shuffle a lightweight proxy, not
    # the payload): a target row in a NON-compact bucket can only ever
    # (a) win its key — then the row is unchanged and never written — or
    # (b) lose to a batch row — then the written payload is the batch
    # row's. Either way its payload columns never reach the output, so
    # those files are scanned metadata-only (keys + order cols + _deleted +
    # _del_hw) with payload as typed nulls: parquet column pruning skips
    # the text decode and the fused-merge exchange ships ~half the bytes on
    # every delta-append batch. Compact buckets (full bucket rewrite) and
    # coalesce mode (stored column values can fill into written rows) keep
    # the full scan.
    prune_ok = config.column_merge != "coalesce"
    full_files = [f for f in read_files if not prune_ok or f.bucket in compact]
    meta_files = [f for f in read_files if prune_ok and f.bucket not in compact]
    branches = []
    if full_files or not meta_files:
        # (the empty-file scan is a createDataFrame([], phys) python-RDD
        # relation — only union it in when it actually carries the schema,
        # i.e. when there is no other target branch)
        branches.append(_null_fill(
            table.scan(spark, with_meta=True, files=full_files), phys
        ).select(*phys_cols))
    if meta_files:
        meta_keep = [c for c in phys_cols
                     if c in key_cols or c in order_cols
                     or c in ("_deleted", "_del_hw")]
        branches.append(_null_fill(
            table.scan(spark, with_meta=True, files=meta_files).select(*meta_keep),
            phys,
        ))
    target = branches[0]
    for b in branches[1:]:
        target = target.unionByName(b)
    target = target.withColumns(
        {"_src_rank": F.lit(1), "_n_s": F.lit(0).cast("long"),
         "_has_t": F.lit(True), "_commit_seq": commit_seq_col()}
    )

    # ---- fused LWW + merge aggregation -------------------------------------
    # row mode: whole-row max_by winner. coalesce mode: field-level LWW
    # (operators/lww.py coalesce_* stages) — same single wide shuffle, the
    # aggregate carries one order-leading candidate struct per payload
    # column instead of one winner struct. ``_changed`` marks rows whose
    # resolved state differs from the prior target state (row won by the
    # batch, or any column filled by a batch event) — that, not
    # ``_src_rank``, is what a MoR delta append must persist, because in
    # coalesce mode a stale (conflict) event can still fill null columns.
    unioned = src.unionByName(target)
    if config.column_merge == "coalesce":
        payload_cols = [c for c in carry_cols
                        if c not in order_cols
                        and c not in ("_deleted", "_del_hw")]
        cand = coalesce_candidates(unioned, order_cols, payload_cols)
        if config.n_salt and config.n_salt > 1:
            cand_salt = F.pmod(
                F.xxhash64(*[F.col(f"_src_hw.o{i}")
                             for i in range(len(order_cols))]),
                F.lit(config.n_salt),
            )
            pre = coalesce_agg(cand.withColumn("_salt", cand_salt),
                               [*key_cols, "_salt"], payload_cols)
            cand = pre.drop("_salt")
        agg = coalesce_agg(cand, key_cols, payload_cols)
        resolved = coalesce_finalize(agg, key_cols, carry_cols, order_cols,
                                     payload_cols)
    else:
        if config.n_salt and config.n_salt > 1:
            # salted pre-phase for pathological hot keys: reduce on
            # (key, salt) first so no single reducer materializes a whole
            # hot key
            salt = F.pmod(F.xxhash64(*[F.col(c) for c in order_cols]),
                          F.lit(config.n_salt))
            pre = _merge_agg(unioned.withColumn("_salt", salt),
                             [*key_cols, "_salt"], carry_cols, order_cols,
                             tie_wins=config.tie_wins)
            unioned = pre.drop("_salt")
        resolved = _merge_agg(unioned, key_cols, carry_cols, order_cols,
                              tie_wins=config.tie_wins)
        resolved = resolved.withColumn("_changed", F.col("_src_rank") == 0)

    obs_m = Observation(f"merge_{batch_id}_{uuid.uuid4().hex[:6]}")
    applied_flag = F.col("_src_rank") == 0
    conflict_flag = (F.col("_n_s") > 0) & (F.col("_src_rank") == 1)
    counter_aggs = [
        F.sum(F.when(applied_flag, 1).otherwise(0)).alias("applied"),
        F.sum(F.when(conflict_flag, 1).otherwise(0)).alias("conflicts"),
        F.sum(F.greatest(F.col("_n_s") - 1, F.lit(0))).alias("dedup"),
    ]
    resolved_raw = resolved
    resolved = resolved.observe(obs_m, *counter_aggs)

    # ---- keep what each bucket persists -----------------------------------
    # a compacted bucket keeps every resolved row (its full state); a delta
    # bucket appends only the rows whose state changed. ONE write job
    # either way — the file kind is per bucket at harvest time.
    out = resolved.filter(
        bucket_expr(F.col("conv_id"), table.n_buckets).isin(sorted(compact))
        | F.col("_changed")
    ).drop("_src_rank", "_n_s", "_has_t")

    def finish_text(df: DataFrame) -> DataFrame:
        # Runs in the write tasks, after the write exchange, so the Python
        # UDF uses all shuffle_partitions tasks (AQE coalesces the
        # aggregate's reduce to one task for a small shuffle). Only rows
        # the batch changed are normalized, then redacted (the oracle's
        # order): carried rows were finished when first written, which is
        # exact while the text policy stays put (checked above). The UDF
        # input is masked to NULL for unchanged rows, so only changed
        # rows' bytes cross to Python.
        changed = F.col("_changed")
        if normalize and "text" in df.columns:
            masked = normalize_text_udf(F.when(changed, F.col("text")))
            df = df.withColumn(
                "text", F.when(changed, masked).otherwise(F.col("text"))
            )
        if config.redact_pii and "text" in df.columns:
            from sfr_ingest_pipeline_spark.functions.pii import redact_pii

            df = df.withColumn(
                "text",
                F.when(changed, redact_pii(F.col("text"))).otherwise(F.col("text")),
            )
        return df.drop("_changed")

    sc.setJobDescription(
        f"merge[{batch_id}]: fused LWW merge + write "
        f"({len(touched)} buckets, {len(compact)} compact)"
    )
    new_files = table.write_bucketed(
        out, "snap", config, touched, compact, project=finish_text
    )
    sc.setJobDescription(None)

    try:
        metrics = obs_m.get
    except Exception:
        # When a batch's entire output is empty (every batch row lost to
        # the target in delta-only buckets), AQE replaces the empty write
        # subtree and the CollectMetrics node never reports —
        # Observation.get then fails on a schemaless row. Recompute the
        # counters with a dedicated pass; this only ever runs for batches
        # that changed nothing.
        metrics = resolved_raw.agg(*counter_aggs).collect()[0].asDict()
    applied = int(metrics["applied"] or 0)
    conflicts = int(metrics["conflicts"] or 0)
    dedup_dropped = int(metrics["dedup"] or 0)

    lineage = _lineage(table, set(touched), compact, new_files, carry_paths)
    new_table, was_skipped = _commit_or_skip(
        table, batch_id,
        compact,
        new_files,
        _props(batch_id, rows_in, dedup_dropped, applied, conflicts, lineage,
               policy, quarantined=quarantined),
        schema=logical if schema_changed else None,
        carry_files=carry_paths,
    )
    if was_skipped:
        return MergeResult(batch_id, committed=False, skipped=True,
                           rows_in=rows_in, elapsed_sec=time.time() - t0)
    return MergeResult(
        batch_id, committed=True, rows_in=rows_in,
        dedup_dropped=dedup_dropped, events_applied=applied,
        merge_conflicts=conflicts, touched_buckets=list(touched),
        events_quarantined=quarantined,
        snapshot_id=new_table.snapshot.snapshot_id,
        elapsed_sec=time.time() - t0,
        files_read=len(read_files), files_pruned=len(carried),
    )


def _props(batch_id, rows_in, dedup_dropped, applied, conflicts, lineage,
           policy, quarantined=0):
    return {
        "batch_id": batch_id,
        "text_policy": policy,
        "counters": {
            "rows_in": rows_in,
            "dedup_dropped": dedup_dropped,
            "events_applied": applied,
            "merge_conflicts": conflicts,
            "events_quarantined": quarantined,
        },
        "lineage": lineage,
    }


def _lineage(
    table: TranscriptTable, touched: set[int], replaced: set[int], new_files,
    carry_paths: set[str] | None = None,
) -> dict:
    """Per-partition (bucket) lineage: physical rows before/after + files
    written. For delta appends (bucket not replaced) rows_after counts the
    carried-forward files plus the new delta rows; range-pruned files
    carried through a replace count into rows_after too."""
    carry_paths = carry_paths or set()
    before: dict[int, int] = {}
    carried_rows: dict[int, int] = {}
    for f in table.files_in_buckets(touched):
        before[f.bucket] = before.get(f.bucket, 0) + f.rows
        if f.path in carry_paths:
            carried_rows[f.bucket] = carried_rows.get(f.bucket, 0) + f.rows
    new_rows: dict[int, int] = {}
    files: dict[int, list[str]] = {}
    for f in new_files:
        new_rows[f.bucket] = new_rows.get(f.bucket, 0) + f.rows
        files.setdefault(f.bucket, []).append(f.path)
    return {
        str(b): {
            "rows_before": before.get(b, 0),
            "rows_after": new_rows.get(b, 0)
            + (carried_rows.get(b, 0) if b in replaced else before.get(b, 0)),
            "files": files.get(b, []),
        }
        for b in sorted(touched)
    }
