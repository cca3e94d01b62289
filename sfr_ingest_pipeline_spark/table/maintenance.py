"""Table maintenance operators: compaction, snapshot expiry, tombstone GC,
and an end-to-end verify (SURVEY.md §2.7 U2 regression diff).

These run OUTSIDE the streaming loop (a real deployment schedules them), and
each is a normal snapshot commit so time travel and the batch-id marker
survive: maintenance commits carry the parent's batch_id forward — they must
never make a replayed batch look new again (exactly-once invariant)."""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from sfr_ingest_pipeline_spark.config import DEFAULT_CONFIG, EngineConfig
from sfr_ingest_pipeline_spark.table.transcript_table import (
    TranscriptTable,
    bucket_expr,
    commit_dir_rel,
    resolve_stored_versions,
)


def compact(
    spark: SparkSession,
    table_root: str,
    config: EngineConfig = DEFAULT_CONFIG,
    buckets: set[int] | None = None,
    expire_tombstones_older_than_us: int | None = None,
) -> TranscriptTable:
    """Rewrite the chosen buckets (default: every bucket holding delta files)
    into single-version base files; optionally drop tombstones whose winning
    write is older than a watermark (safe once no event older than the
    watermark can still arrive — the operator's caller owns that promise)."""
    table = TranscriptTable.load(table_root)
    if buckets is None:
        buckets = set(table.delta_file_counts().keys())
        if expire_tombstones_older_than_us is not None:
            buckets |= {f.bucket for f in table.files}
    if not buckets:
        return table

    df = table.scan(spark, with_meta=True, buckets=buckets)
    resolved = resolve_stored_versions(
        df, list(table.snapshot.key_cols), table.snapshot.order_cols
    )
    if expire_tombstones_older_than_us is not None:
        keep = ~F.col("_deleted") | (
            F.unix_micros(F.col("ts").cast("timestamp"))
            >= F.lit(expire_tombstones_older_than_us)
        )
        resolved = resolved.filter(keep)

    new_files = table.write_bucketed(resolved, "compact", config, buckets, buckets)
    props = dict(table.snapshot.properties)  # carry batch_id marker forward
    props["maintenance"] = {
        "op": "compact",
        "buckets": sorted(buckets),
        "tombstone_watermark_us": expire_tombstones_older_than_us,
    }
    return table.commit(buckets, new_files, props)


def compact_minor(
    spark: SparkSession,
    table_root: str,
    config: EngineConfig = DEFAULT_CONFIG,
    buckets: set[int] | None = None,
    min_delta_files: int = 2,
) -> TranscriptTable:
    """Delta-only ("minor") compaction: LWW-merge each chosen bucket's MoR
    delta files into ONE resolved delta file, carrying the base files
    forward untouched. Cost is O(delta bytes) — at 100 TB this is the
    steady-state compaction you actually run; the full :func:`compact`
    (O(bucket bytes), rewrites bases) becomes an occasional major pass.

    Exactness: stored-version resolution is an associative LWW max_by over
    (order_cols..., commit recency) — see :func:`resolve_stored_versions` —
    so pre-reducing the delta subset cannot change any key's final winner:
    a delta row beats the base row it superseded by construction (MERGE
    writes only resolved winners as deltas, and the merged file's commit
    seq exceeds every input delta's). Tombstones are winners too and are
    kept, so they still mask base rows at scan time. Buckets with fewer
    than ``min_delta_files`` deltas are skipped (nothing to gain)."""
    table = TranscriptTable.load(table_root)
    counts = table.delta_file_counts(buckets)
    chosen = {b for b, c in counts.items() if c >= min_delta_files}
    if not chosen:
        return table
    in_buckets = table.files_in_buckets(chosen)
    delta_files = [f for f in in_buckets if f.kind == "delta"]
    base_paths = {f.path for f in in_buckets if f.kind != "delta"}

    df = table.scan(spark, with_meta=True, files=delta_files)
    resolved = resolve_stored_versions(
        df, list(table.snapshot.key_cols), table.snapshot.order_cols
    )
    new_files = table.write_bucketed(resolved, "compact", config, chosen, set())
    props = dict(table.snapshot.properties)  # carry batch_id marker forward
    props["maintenance"] = {
        "op": "compact_minor",
        "buckets": sorted(chosen),
        "deltas_merged": len(delta_files),
    }
    return table.commit(chosen, new_files, props, carry_files=base_paths)


def expire_snapshots(
    table_root: str, keep_last: int = 5, orphan_grace_s: float = 86_400.0
) -> dict:
    """Drop snapshot metadata older than the last ``keep_last`` and delete
    data files no retained snapshot references. The time-travel window
    shrinks to the retained set; the current snapshot is always retained.

    Unreferenced files come in two classes with different safety rules:

    * referenced by some EXPIRED snapshot — committed history being aged
      out; deleted immediately (no in-flight writer can own a path that a
      committed snapshot already referenced: writers mint fresh
      uuid-suffixed commit dirs).
    * referenced by NO snapshot at all — either debris from a crashed
      writer, or the live output of an IN-FLIGHT writer that has written
      its files but not yet CAS-committed its snapshot. Deleting the
      latter would make the imminent commit reference missing files, so
      these are only removed once older than ``orphan_grace_s``. The
      grace is measured from each FILE's mtime, so it must exceed the
      in-flight writer's ENTIRE write duration (its earliest file ages
      from the moment it is written, not from when the write finishes) —
      not merely the write->commit gap (ADVICE r5). Default 1 day; Iceberg's
      remove_orphan_files uses 3 days for the same contract. Counted
      separately as ``dropped_orphans`` / ``skipped_recent_orphans``.

    Retention contract for concurrent readers: a reader holding a RETAINED
    snapshot keeps reading exactly (its files survive GC by reference); a
    reader whose snapshot is expired gets a deterministic
    ``SnapshotExpiredError`` at its next scan, never a silent read of a
    half-GC'd file set. Size ``keep_last`` above the longest reader's
    lifetime in commits (tests/test_maintenance.py pins both behaviors).

    Staging branches (table/branch.py): every file or manifest ANY live
    branch references is retained regardless of ``keep_last`` — an audit
    in progress must never lose its staged files; dropping the branch
    releases them. Running expire ON a branch root is refused: its data
    namespace belongs to the parent table, so the 'unreferenced' set it
    would compute there is wrong by construction."""
    from sfr_ingest_pipeline_spark.table.branch import (
        branch_referenced,
        is_branch_root,
        released_refs,
    )
    from sfr_ingest_pipeline_spark.table.transcript_table import list_tags

    if is_branch_root(table_root):
        raise ValueError(
            "expire_snapshots on a staging branch root is not allowed; "
            "run it on the parent table (branch refs are retained there)"
        )
    table = TranscriptTable.load(table_root)
    # Newest keep_last snapshots ON DISK, not a contiguous id range: tables
    # written before branch-publish committed at fork_id+1 may carry id
    # gaps, and a range would count the missing ids against the retention
    # budget (expiring a snapshot only one commit old right after a
    # publish, breaking the "size keep_last above the longest reader's
    # lifetime in commits" contract).
    on_disk = [s.snapshot_id for s in table.history()]
    keep_ids = set(on_disk[-keep_last:])
    keep_ids.add(table.snapshot.snapshot_id)
    # tagged snapshots are pinned outside the keep_last window: a tag is a
    # reproducibility promise ("this corpus build reads tag X"), so GC must
    # never invalidate one — delete the tag first to release it
    tagged = {int(v["snapshot_id"]) for v in list_tags(table_root).values()}
    keep_ids |= tagged

    # live staging branches pin their whole referenced set (data files AND
    # manifests, fork history included) for as long as the audit runs
    referenced, referenced_manifests = branch_referenced(table_root)
    # ever_* = union over ALL on-disk snapshots (kept and dropped) plus the
    # released-files tombstones of dropped branches: a path in ever_* but
    # not in the retained set is committed/explicitly-released history —
    # safe to delete immediately; a path in NEITHER was never committed and
    # may belong to an in-flight writer, so it gets the orphan grace window
    rel_files, rel_manifests, rel_tombstones = released_refs(table_root)
    ever_referenced = set(referenced) | rel_files
    ever_manifests = set(referenced_manifests) | rel_manifests
    kept, dropped_meta = 0, 0
    to_remove_meta: list[str] = []
    for snap in table.history():
        view = TranscriptTable(table_root, snap)
        ever_referenced |= {f.path for f in view.files}
        ever_manifests |= view.referenced_manifests()
        if snap.snapshot_id in keep_ids:
            referenced |= {f.path for f in view.files}
            referenced_manifests |= view.referenced_manifests()
            kept += 1
        else:
            to_remove_meta.append(
                TranscriptTable._snap_path(table_root, snap.snapshot_id)
            )
            dropped_meta += 1

    now = time.time()

    def _sweep(full: str, rel: str, counters: dict) -> None:
        if rel in ever_referenced or rel in ever_manifests:
            os.remove(full)
            counters["expired"] += 1
        elif now - os.path.getmtime(full) > orphan_grace_s:
            os.remove(full)
            counters["orphans"] += 1
        else:
            counters["recent"] += 1

    # Bloom sidecars (table/bloom.py): a blob lives exactly as long as some
    # retained manifest (branch-pinned included) references it. Resolve the
    # refs NOW, before the manifest sweep deletes dropped manifests — blobs
    # of a dropped manifest are committed history (delete immediately),
    # not recent orphans.
    def _bloom_refs(manifest_rels) -> set[str]:
        out: set[str] = set()
        for mf_rel in manifest_rels:
            try:
                with open(os.path.join(table_root, mf_rel), encoding="utf-8") as f:
                    raw = json.load(f)
            except FileNotFoundError:
                continue
            for fds in raw.values():
                for fd in fds:
                    if fd.get("bloom_path"):
                        out.add(fd["bloom_path"])
        return out

    referenced_blooms = _bloom_refs(referenced_manifests)
    ever_blooms = referenced_blooms | _bloom_refs(ever_manifests)

    for p in to_remove_meta:
        os.remove(p)

    dc = {"expired": 0, "orphans": 0, "recent": 0}
    data_root = os.path.join(table_root, "data")
    for dirpath, _dirs, files in os.walk(data_root):
        for fn in files:
            full = os.path.join(dirpath, fn)
            rel = os.path.relpath(full, table_root)
            if rel not in referenced and fn.endswith(".parquet"):
                _sweep(full, rel, dc)
    mc = {"expired": 0, "orphans": 0, "recent": 0}
    mdir = os.path.join(table_root, "metadata", "manifests")
    if os.path.isdir(mdir):
        for fn in os.listdir(mdir):
            rel = "/".join(["metadata", "manifests", fn])
            if fn.endswith(".json") and rel not in referenced_manifests:
                _sweep(os.path.join(mdir, fn), rel, mc)
    bc = {"expired": 0, "orphans": 0, "recent": 0}
    bdir = os.path.join(table_root, "metadata", "blooms")
    if os.path.isdir(bdir):
        for fn in os.listdir(bdir):
            rel = "/".join(["metadata", "blooms", fn])
            if rel not in referenced_blooms:
                full = os.path.join(bdir, fn)
                if rel in ever_blooms:
                    os.remove(full)
                    bc["expired"] += 1
                elif now - os.path.getmtime(full) > orphan_grace_s:
                    os.remove(full)
                    bc["orphans"] += 1
                else:
                    bc["recent"] += 1
    # released tombstones are consumed: their paths were swept above (or
    # were still retained via a live reference, in which case re-listing
    # them is pointless — the next drop writes a fresh tombstone)
    for p in rel_tombstones:
        os.remove(p)
    return {
        "kept_snapshots": kept,
        "dropped_snapshots": dropped_meta,
        "dropped_data_files": dc["expired"],
        "dropped_manifests": mc["expired"],
        "dropped_blooms": bc["expired"] + bc["orphans"],
        "dropped_orphans": dc["orphans"] + mc["orphans"],
        "skipped_recent_orphans": dc["recent"] + mc["recent"] + bc["recent"],
    }


def verify_against_binlog(
    spark: SparkSession,
    table_root: str,
    binlog_dirs,
    config: EngineConfig = DEFAULT_CONFIG,
    column_merge: str = "row",
    event_schema=None,
) -> dict:
    """U2 regression diff: independently reduce the binlog(s) with the batch
    LWW path and exceptAll both directions against the table — both empty
    means the converged state is exactly the replay of the log.

    ``column_merge="coalesce"`` verifies a field-level-merge table with the
    distributed one-shot fold (operators/lww.py coalesce_lww_reduce). The
    one-shot fold has EXACT per-column orders, while a multi-batch replay
    folds committed state at its row order (delete cuts ARE exact either
    way via the persisted _del_hw memory) — so this check is exact for
    single-batch replays (the bounded CLI default) and for histories where
    no cross-batch stale event outranks the unseen set-time of an existing
    non-null column; such histories are golden-tested against the
    sequential oracle instead (tests/test_coalesce_merge.py)."""
    from sfr_ingest_pipeline_spark.functions.normalize import normalize_text_udf
    from sfr_ingest_pipeline_spark.operators.lww import (
        coalesce_lww_reduce,
        lww_reduce,
    )
    from sfr_ingest_pipeline_spark.sources.binlog import BinlogSource, read_binlog

    table = TranscriptTable.load(table_root)
    logical_cols = [f.name for f in table.schema.fields]

    if event_schema is not None:
        dirs = binlog_dirs if isinstance(binlog_dirs, list) else [binlog_dirs]
        binlog_dirs = [
            d if isinstance(d, BinlogSource) else BinlogSource(d, event_schema)
            for d in dirs
        ]
    events = read_binlog(spark, binlog_dirs)
    events = events.withColumn("text", normalize_text_udf("text"))
    if column_merge == "coalesce":
        expected = coalesce_lww_reduce(
            events.withColumn("_is_del", F.col("op") == "D").drop("op"),
            list(config.key_cols), list(config.order_cols),
            deleted="_is_del", n_salt=config.n_salt,
        )
    else:
        winners = lww_reduce(
            events, list(config.key_cols), list(config.order_cols)
        )
        expected = winners.filter(F.col("op") != "D")
    # table columns the binlog never carried (post-evolution schema vs an
    # older-schema binlog) are null-filled WITH the table's type (an uncast
    # NULL would diff as a schema mismatch) and surfaced explicitly so a
    # spurious 'missing rows' report can't mask a schema gap
    table_types = {f.name: f.dataType for f in table.schema.fields}
    uncovered = [c for c in logical_cols if c not in expected.columns]
    expected = expected.select(
        *[F.col(c) if c in expected.columns
          else F.lit(None).cast(table_types[c]).alias(c)
          for c in logical_cols]
    )
    actual = table.scan(spark).select(*logical_cols)

    missing = expected.exceptAll(actual).count()
    extra = actual.exceptAll(expected).count()
    report = {
        "rows_expected": expected.count(),
        "rows_actual": actual.count(),
        "missing_in_table": missing,
        "unexpected_in_table": extra,
        "columns_not_covered_by_binlog": uncovered,
        "ok": missing == 0 and extra == 0,
    }
    last = table.last_batch_id
    multi_batch_coalesce = (
        column_merge == "coalesce" and last is not None and last > 0
    )
    # verdict drives scripted gates (cli verify exit code): "exact" — clean;
    # "mismatch" — a real defect; "approximate_mismatch" — the diff occurred
    # where the one-shot coalesce fold is DOCUMENTED approximate (multi-batch
    # history, cross-batch stale fills), so it must not be read as corruption
    if report["ok"]:
        report["verdict"] = "exact"
    elif multi_batch_coalesce:
        report["verdict"] = "approximate_mismatch"
    else:
        report["verdict"] = "mismatch"
    if multi_batch_coalesce:
        report["note"] = (
            "coalesce verify against a multi-batch replay is approximate "
            "for cross-batch stale fills (see docstring); exact "
            "verification is the sequential-oracle golden tests"
        )
    return report


def _zorder_dim(col, cuts: list) -> "F.Column":
    """Quantile-bucket index of ``col`` against sorted cutpoints (0..len).

    A 64-term codegen fold (one >= comparison per cutpoint) — O(cuts) per
    row, paid once per rewritten row by an offline maintenance op. The
    index, not the raw value, is what interleaves: quantile mapping keeps
    the z-curve locality under arbitrarily skewed dimension distributions
    (a raw-value interleave degenerates when one dimension's mass sits in
    a narrow range)."""
    lits = F.array(*[F.lit(c) for c in cuts])
    return F.aggregate(
        lits,
        F.lit(0),
        lambda acc, c: acc + F.when(col >= c, 1).otherwise(0),
    )


def _interleave_bits(a, b, bits: int) -> "F.Column":
    """Morton/z-value of two ``bits``-bit ints: a's bit i at 2i+1, b's at 2i."""
    z = F.lit(0)
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i + 1)
            + F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    return z


def zorder_value(
    conv_col, ts_col, conv_cuts: list[str], ts_cuts: list[int], bits: int = 6
) -> "F.Column":
    """Z-value over (conv_id quantile index, ts quantile index) — pure
    codegen, used by recluster(zorder=True)."""
    a = F.least(F.lit((1 << bits) - 1), _zorder_dim(conv_col, conv_cuts))
    b = F.least(
        F.lit((1 << bits) - 1),
        _zorder_dim(F.unix_micros(ts_col), [int(c) for c in ts_cuts]),
    )
    return _interleave_bits(a, b, bits)


def recluster(
    spark: SparkSession,
    table_root: str,
    config: EngineConfig = DEFAULT_CONFIG,
    buckets: set[int] | None = None,
    files_per_bucket: int = 4,
    zorder: bool = False,
    zorder_bits: int = 6,
) -> TranscriptTable:
    """Sort-rewrite buckets so their base files carry near-DISJOINT conv_id
    ranges (the Iceberg rewrite_data_files+sort analog).

    Write-time clustering sorts within files, but under uniform ids every
    file in a bucket still spans the whole keyspace, so per-file
    (conv_id_min, conv_id_max) pruning — point lookups,
    MERGE range pruning, changes_between — reads every file in the bucket.
    Range-repartitioning on (_bucket, conv_id) makes each output file a
    contiguous conv_id slice of its bucket: after recluster a point lookup
    touches ~1 file and a range-local batch prunes the rest.

    ``zorder=True`` clusters on the Morton interleave of (conv_id, ts)
    QUANTILE indices instead (the OPTIMIZE ZORDER analog): each output
    file covers a small square of the (conv, time) plane, so BOTH the
    conv_id-range point pruning AND the ts_max time-window pruning
    (ts_pruned_files) stay effective on one layout — conv-only clustering
    leaves every file spanning the full time range and vice versa. The
    quantile cutpoints come from one approxQuantile pass (ts) and one
    deterministic sample sort (conv_id strings); they shape only the
    LAYOUT, never results. Per-file stats are harvested from parquet
    footers exactly as for any write — no new pruning code paths.

    Like compact, this is a normal snapshot commit (LWW-resolves deltas,
    carries the batch-id marker forward, time travel intact)."""
    table = TranscriptTable.load(table_root)
    if buckets is None:
        buckets = {f.bucket for f in table.files}
    if not buckets:
        return table

    df = table.scan(spark, with_meta=True, buckets=buckets)
    key_cols = list(table.snapshot.key_cols)
    resolved = resolve_stored_versions(
        df, key_cols, table.snapshot.order_cols
    )

    commit_rel = commit_dir_rel("recluster", table.next_commit_seq)
    clustered = resolved.withColumn(
        "_bucket", bucket_expr(F.col("conv_id"), table.n_buckets)
    )
    n_parts = max(1, len(buckets) * files_per_bucket)
    if zorder:
        n_cuts = (1 << zorder_bits) - 1
        ts_cuts = resolved.select(
            F.unix_micros(F.col("ts")).alias("_us")
        ).approxQuantile("_us", [i / (n_cuts + 1) for i in range(1, n_cuts + 1)], 0.001)
        # string quantiles: hash-ordered deterministic sample -> driver
        # sort -> even slices. Ordering by xxhash64(conv_id) before the
        # limit decorrelates the sample from the table's physical
        # clustering (ADVICE r5: fraction-1.0 sample + limit was a
        # partition-order PREFIX, skewing cutpoints on clustered input);
        # TakeOrdered keeps it a per-partition heap, no full sort.
        sample = [
            r["conv_id"]
            for r in resolved.select("conv_id")
            .orderBy(F.xxhash64("conv_id"))
            .limit(50_000).collect()
        ] or [""]
        sample.sort()
        step = max(1, len(sample) // (n_cuts + 1))
        conv_cuts = sample[step::step][:n_cuts] or [sample[len(sample) // 2]]
        clustered = (
            clustered.withColumn(
                "_z",
                zorder_value(
                    F.col("conv_id"), F.col("ts"), conv_cuts, ts_cuts, zorder_bits
                ),
            )
            .repartitionByRange(n_parts, F.col("_bucket"), F.col("_z"))
            .sortWithinPartitions(F.col("_bucket"), F.col("_z"), *key_cols)
            .drop("_z")
        )
    else:
        clustered = clustered.repartitionByRange(
            # range partitioner orders by (_bucket, conv_id): within any
            # output partition a bucket's rows form one contiguous conv_id
            # slice, and slices across partitions are disjoint by construction
            n_parts, F.col("_bucket"), F.col("conv_id"),
        ).sortWithinPartitions(*key_cols)
    clustered.write.partitionBy("_bucket").mode("overwrite").parquet(
        os.path.join(table.root, commit_rel)
    )
    new_files = table.harvest_files(
        commit_rel, range(table.n_buckets), bloom_fpp=config.file_bloom_fpp
    )
    props = dict(table.snapshot.properties)  # carry batch_id marker forward
    props["maintenance"] = {
        "op": "recluster",
        "buckets": sorted(buckets),
        "files_per_bucket": files_per_bucket,
        "zorder": bool(zorder),
    }
    return table.commit(buckets, new_files, props)


def rebucket(
    spark: SparkSession,
    table_root: str,
    new_n_buckets: int,
    config: EngineConfig = DEFAULT_CONFIG,
) -> TranscriptTable:
    """Bucket-layout evolution: rewrite the whole table under a different
    bucket count (the table outgrew — or over-provisioned — its layout).

    At 10^10 events the bucket count chosen on day one is wrong eventually:
    too few buckets -> each MERGE rewrite touches huge files; too many ->
    small-file pressure and manifest bloat. This is the one maintenance op
    that must rewrite EVERYTHING (the hash layout changes meaning), so it is
    a scheduled, rare operation; the commit layer enforces that a layout
    change replaces every old bucket atomically. LWW-resolves deltas on the
    way through; batch-id marker carried forward; old snapshots still read
    under their own recorded layout."""
    table = TranscriptTable.load(table_root)
    old_buckets = set(range(table.n_buckets))

    df = table.scan(spark, with_meta=True)
    resolved = resolve_stored_versions(
        df, list(table.snapshot.key_cols), table.snapshot.order_cols
    )
    new_files = table.write_bucketed(
        resolved, "rebucket", config, range(new_n_buckets),
        range(new_n_buckets), n_buckets=new_n_buckets,
    )
    props = dict(table.snapshot.properties)  # carry batch_id marker forward
    props["maintenance"] = {
        "op": "rebucket",
        "from_n_buckets": table.n_buckets,
        "to_n_buckets": new_n_buckets,
    }
    return table.commit(old_buckets, new_files, props, n_buckets=new_n_buckets)
