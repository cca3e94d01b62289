"""Command-line entry points — the engine's user surface.

Run via spark-submit (multi-executor) or plain python (local):

    # generate a seeded synthetic binlog
    python -m sfr_ingest_pipeline_spark.cli generate \
        --out /tmp/binlog --events 1000000 --segments 64 --zipf 1.2

    # bounded CDC replay: tail the binlog, MERGE into the table, stop
    spark-submit --py-files engine.zip -m ... # or locally:
    python -m sfr_ingest_pipeline_spark.cli replay \
        --binlog /tmp/binlog --table /tmp/table --checkpoint /tmp/ckpt

    # inspect snapshots / counters / lineage
    python -m sfr_ingest_pipeline_spark.cli history --table /tmp/table

    # read the converged table
    python -m sfr_ingest_pipeline_spark.cli scan --table /tmp/table --limit 10
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _add_spark_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--master", default=None, help="spark master (default local[$SPARK_GRAFT_CPUS])")
    p.add_argument("--shuffle-partitions", type=int, default=None)


def _maintenance_guard(fn):
    """Maintenance racing a live ingest can lose the CAS commit
    (CommitConflictError) — for a scheduled job that's a retry-later
    outcome, not a crash: print a structured error and exit 4."""
    import functools

    @functools.wraps(fn)
    def wrapped(args):
        from sfr_ingest_pipeline_spark.table.transcript_table import (
            CommitConflictError,
        )

        try:
            return fn(args)
        except CommitConflictError as e:
            print(json.dumps({"error": "commit_conflict", "detail": str(e),
                              "retry": True}))
            return 4
    return wrapped


def _parse_ts_us(raw: str) -> int:
    """Accepts microseconds-since-epoch or an ISO-8601 datetime (naive is
    read as UTC — the engine's session timezone)."""
    try:
        return int(raw)
    except ValueError:
        from datetime import datetime, timezone

        dt = datetime.fromisoformat(raw)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return int(dt.timestamp() * 1_000_000)


def _get_spark(args):
    from sfr_ingest_pipeline_spark.session import get_spark

    extra = {}
    if args.shuffle_partitions:
        extra["spark.sql.shuffle.partitions"] = str(args.shuffle_partitions)
    return get_spark(master=args.master, extra_confs=extra)


def cmd_generate(args) -> int:
    from sfr_ingest_pipeline_spark.generator import generate_binlog

    t0 = time.time()
    n = generate_binlog(
        args.out,
        seed=args.seed,
        n_conversations=args.conversations,
        n_events=args.events,
        n_segments=args.segments,
        delete_ratio=args.delete_ratio,
        duplicate_ratio=args.duplicate_ratio,
        late_ratio=args.late_ratio,
        ts_tie_ratio=args.ts_tie_ratio,
        zipf_s=args.zipf,
        schema_v2_from_segment=args.v2_from_segment,
    )
    print(json.dumps({"events": n, "segments": args.segments,
                      "out": args.out, "sec": round(time.time() - t0, 2)}))
    return 0


def cmd_replay(args) -> int:
    from sfr_ingest_pipeline_spark.config import EngineConfig
    from sfr_ingest_pipeline_spark.schema import (
        CHANGE_EVENT_SCHEMA,
        CHANGE_EVENT_SCHEMA_V2,
    )
    from sfr_ingest_pipeline_spark.streaming.replay import replay_stream

    spark = _get_spark(args)
    spark.sparkContext.setLogLevel("WARN")
    cfg = EngineConfig(
        n_buckets=args.buckets,
        n_salt=args.salt,
        shuffle_partitions=args.shuffle_partitions or 32,
        column_merge=args.column_merge,
        compact_delta_files=args.compact_delta_files,
        quarantine_dir=args.quarantine_dir,
    )
    schema = CHANGE_EVENT_SCHEMA_V2 if args.v2_schema else CHANGE_EVENT_SCHEMA
    t0 = time.time()
    binlogs = args.binlog if len(args.binlog) > 1 else args.binlog[0]
    results = replay_stream(
        spark,
        binlogs,
        args.table,
        args.checkpoint,
        config=cfg,
        event_schema=schema,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    wall = time.time() - t0
    rows_in = sum(r.rows_in for r in results)
    out = {
        "batches": len(results),
        "skipped": sum(1 for r in results if r.skipped),
        "rows_in": rows_in,
        "events_applied": sum(r.events_applied for r in results),
        "dedup_dropped": sum(r.dedup_dropped for r in results),
        "merge_conflicts": sum(r.merge_conflicts for r in results),
        # conv_id-range file-pruning telemetry (files inside touched
        # buckets the merge did NOT have to read; see operators/merge.py)
        "files_read": sum(r.files_read for r in results),
        "files_pruned": sum(r.files_pruned for r in results),
        "events_quarantined": sum(r.events_quarantined for r in results),
        "sec": round(wall, 2),
        "events_per_sec": round(rows_in / wall, 1) if wall > 0 else None,
    }
    print(json.dumps(out))
    return 0


def cmd_history(args) -> int:
    from sfr_ingest_pipeline_spark.table.transcript_table import TranscriptTable

    table = TranscriptTable.load(args.table)
    for snap in table.history():
        props = snap.properties
        files = TranscriptTable(args.table, snap).files  # one manifest read
        print(json.dumps({
            "snapshot_id": snap.snapshot_id,
            "parent_id": snap.parent_id,
            "schema_id": snap.schema_id,
            "files": len(files),
            "rows": sum(f.rows for f in files),
            "batch_id": props.get("batch_id"),
            "counters": props.get("counters"),
            "touched_buckets": sorted(props.get("lineage", {}).keys(), key=int)
            if props.get("lineage") else [],
        }))
    return 0


def cmd_scan(args) -> int:
    from sfr_ingest_pipeline_spark.table.transcript_table import TranscriptTable

    spark = _get_spark(args)
    spark.sparkContext.setLogLevel("ERROR")
    if args.tag is not None:
        from sfr_ingest_pipeline_spark.table.transcript_table import load_tag

        table = load_tag(args.table, args.tag)
    else:
        table = TranscriptTable.load(args.table)
    if args.as_of_batch is not None:
        table = table.load_snapshot_as_of_batch(args.as_of_batch)
    if args.as_of_ts is not None:
        table = table.load_snapshot_as_of_timestamp(_parse_ts_us(args.as_of_ts))
    ts_between = None
    if args.ts_between is not None:
        lo, hi = args.ts_between.split(",", 1)
        ts_between = (_parse_ts_us(lo.strip()), _parse_ts_us(hi.strip()))
        kept, pruned = table.ts_pruned_files(ts_between[0])
        print(json.dumps({"ts_window_files_read": len(kept),
                          "ts_window_files_pruned": pruned}),
              file=sys.stderr)
    df = table.scan(spark, with_meta=args.with_meta, ts_between=ts_between)
    df = df.orderBy("conv_id", "turn_idx")
    if args.limit:
        df = df.limit(args.limit)
    # toJSON: rows serialize JVM-side (measured: Python Row->dict->dumps
    # dominated the 3.98M-row changelog print); toLocalIterator keeps one
    # partition in driver memory at a time — a scan of the 105M-run table
    # must not OOM the driver just to print
    for line in df.toJSON().toLocalIterator():
        print(line)
    return 0


@_maintenance_guard
def cmd_compact(args) -> int:
    from sfr_ingest_pipeline_spark.config import EngineConfig
    from sfr_ingest_pipeline_spark.table.maintenance import compact, compact_minor

    spark = _get_spark(args)
    spark.sparkContext.setLogLevel("ERROR")
    cfg = EngineConfig(shuffle_partitions=args.shuffle_partitions or 32)
    t0 = time.time()
    if args.minor:
        if args.tombstone_watermark_us is not None:
            raise SystemExit(
                "--tombstone-watermark-us requires a full compaction: minor "
                "compaction never drops tombstones (they must keep masking "
                "base rows it does not rewrite)"
            )
        table = compact_minor(
            spark, args.table, config=cfg,
            min_delta_files=args.min_delta_files,
        )
    else:
        table = compact(
            spark, args.table, config=cfg,
            expire_tombstones_older_than_us=args.tombstone_watermark_us,
        )
    print(json.dumps({
        "snapshot_id": table.snapshot.snapshot_id,
        "files": len(table.files),
        "rows": sum(f.rows for f in table.files),
        "sec": round(time.time() - t0, 2),
    }))
    return 0


@_maintenance_guard
def cmd_rebucket(args) -> int:
    from sfr_ingest_pipeline_spark.table.maintenance import rebucket

    spark = _get_spark(args)
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    t = rebucket(spark, args.table, new_n_buckets=args.buckets)
    print(json.dumps({"snapshot_id": t.snapshot.snapshot_id,
                      "n_buckets": t.n_buckets,
                      "sec": round(time.time() - t0, 2)}))
    return 0


@_maintenance_guard
def cmd_dedup_index(args) -> int:
    """Maintain/query the incremental MinHash-LSH near-dup index
    (streaming/lsh_index.py): refresh hashes only the docs the changelog
    touched since the stored cursor; --pairs derives the candidate pair
    set from stored signatures (zero shingle hashing)."""
    from sfr_ingest_pipeline_spark.streaming.lsh_index import (
        IncrementalLshIndex,
        IncrementalNearDupView,
    )

    spark = _get_spark(args)
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    idx = IncrementalLshIndex(args.index, args.table)
    if args.kept:
        # full composed view: signatures + pair ledger + kept set
        view = IncrementalNearDupView(idx)
        out = view.refresh(spark)
        out["refresh_sec"] = round(time.time() - t0, 2)
        t0 = time.time()
        out["kept_docs"] = view.kept_docs(spark).count()
        out["kept_sec"] = round(time.time() - t0, 2)
    else:
        out = idx.refresh(spark)
        out["refresh_sec"] = round(time.time() - t0, 2)
    if args.pairs:
        t0 = time.time()
        out["candidate_pairs"] = idx.candidate_pairs(spark).count()
        out["pairs_sec"] = round(time.time() - t0, 2)
    print(json.dumps(out))
    return 0


@_maintenance_guard
def cmd_rollback(args) -> int:
    from sfr_ingest_pipeline_spark.table.transcript_table import TranscriptTable

    t = TranscriptTable.load(args.table)
    nt = t.rollback(args.to_snapshot)
    print(json.dumps({"snapshot_id": nt.snapshot.snapshot_id,
                      "restored": args.to_snapshot,
                      "last_batch_id": nt.last_batch_id}))
    return 0


@_maintenance_guard
def cmd_recluster(args) -> int:
    from sfr_ingest_pipeline_spark.table.maintenance import recluster

    spark = _get_spark(args)
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    t = recluster(spark, args.table, files_per_bucket=args.files_per_bucket,
                  zorder=args.zorder)
    print(json.dumps({"snapshot_id": t.snapshot.snapshot_id,
                      "files": len(t.files),
                      "sec": round(time.time() - t0, 2)}))
    return 0


def cmd_expire(args) -> int:
    from sfr_ingest_pipeline_spark.table.maintenance import expire_snapshots

    print(json.dumps(expire_snapshots(
        args.table, keep_last=args.keep_last,
        orphan_grace_s=args.orphan_grace_s,
    )))
    return 0


def cmd_verify(args) -> int:
    from sfr_ingest_pipeline_spark.schema import CHANGE_EVENT_SCHEMA_V2
    from sfr_ingest_pipeline_spark.table.maintenance import verify_against_binlog

    spark = _get_spark(args)
    spark.sparkContext.setLogLevel("ERROR")
    report = verify_against_binlog(
        spark, args.table, args.binlog, column_merge=args.column_merge,
        event_schema=CHANGE_EVENT_SCHEMA_V2 if args.v2_schema else None,
    )
    print(json.dumps(report))
    if report["ok"]:
        return 0
    # distinct exit code where the one-shot coalesce fold is documented
    # approximate (multi-batch history): a CI gate must be able to tell
    # "documented approximation tripped" (3) from "table is wrong" (1)
    return 3 if report.get("verdict") == "approximate_mismatch" else 1


def cmd_changes(args) -> int:
    """Incremental changelog between two snapshots (JSON lines + summary)."""
    from sfr_ingest_pipeline_spark.table.transcript_table import TranscriptTable

    spark = _get_spark(args)
    spark.sparkContext.setLogLevel("ERROR")
    t = TranscriptTable.load(args.table)
    to_id = args.to_snapshot if args.to_snapshot is not None else t.snapshot.snapshot_id
    df = t.changes_between(spark, args.from_snapshot, to_id,
                           pre_post=args.pre_post)
    if args.limit:
        df = df.limit(args.limit)
    counts: dict = {}
    n = 0
    # JVM-side serialization + partition-at-a-time streaming; tally the
    # summary from the one field we need while printing
    for line in df.toJSON().toLocalIterator():
        print(line)
        ct = json.loads(line).get("_change_type")
        counts[ct] = counts.get(ct, 0) + 1
        n += 1
    print(json.dumps({"from": args.from_snapshot, "to": to_id,
                      "changes": n, **counts}), file=sys.stderr)
    return 0


def cmd_query(args) -> int:
    """Run any named analytic query from the driver surface over a parquet
    table directory (``--sf-dir``); ``--list`` prints the inventory. Rows go
    to stdout as JSON lines — the full queries() catalog is usable from the
    spark-submit surface, not only from python."""
    from sfr_ingest_pipeline_spark.queries import QUERIES

    if args.list or not args.name:
        for name in sorted(QUERIES):
            print(name)
        return 0
    if args.name not in QUERIES:
        print(json.dumps({"error": f"unknown query {args.name!r}"}), file=sys.stderr)
        return 2
    spark = _get_spark(args)
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    df = QUERIES[args.name](spark, args.sf_dir)
    if args.explain:
        # the plan-shape audit surface: what test_plans.py gates (pushdown,
        # pruning, broadcast, partial agg, codegen spans) made visible for
        # any catalog query without writing a test
        df.explain("formatted")
        return 0
    if args.limit:
        df = df.limit(args.limit)
    n = 0
    for line in df.toJSON().toLocalIterator():
        print(line)
        n += 1
    print(json.dumps({"query": args.name, "rows": n,
                      "sec": round(time.time() - t0, 2)}), file=sys.stderr)
    return 0


def cmd_follow(args) -> int:
    """Tail the table's commit log as a change stream (durable cursor,
    at-least-once): each poll prints the batch's change rows as JSON lines
    plus a span summary on stderr, then commits the cursor. Bounded by
    --max-polls (0 = single catch-up pass)."""
    from sfr_ingest_pipeline_spark.streaming.tail import ChangelogTail

    spark = _get_spark(args)
    spark.sparkContext.setLogLevel("ERROR")
    tail = ChangelogTail(args.table, args.cursor,
                         pre_post=args.pre_post,
                         step="per_commit" if args.per_commit else "net")
    if args.from_snapshot is not None:
        tail.seek(args.from_snapshot)
    polls = 0
    while True:
        batch = tail.poll(spark)
        if batch is None:
            if polls >= args.max_polls:
                break
            time.sleep(args.interval)
            polls += 1
            continue
        n = 0
        for line in batch.df.toJSON().toLocalIterator():
            print(line)
            n += 1
        batch.commit()
        print(json.dumps({"from": batch.from_snapshot_id,
                          "to": batch.to_snapshot_id, "changes": n}),
              file=sys.stderr)
    return 0


def cmd_tag(args) -> int:
    """Create / delete / list named immutable snapshot tags (no Spark
    session needed — pure metadata)."""
    from sfr_ingest_pipeline_spark.table import transcript_table as tt

    if args.create:
        try:
            sid = tt.create_tag(args.table, args.create, args.snapshot)
        except FileExistsError:
            print(json.dumps({"error": f"tag {args.create!r} already exists "
                              "(tags are immutable; delete it first)"}),
                  file=sys.stderr)
            return 2
        print(json.dumps({"tag": args.create, "snapshot_id": sid}))
        return 0
    if args.delete:
        try:
            tt.delete_tag(args.table, args.delete)
        except KeyError:
            print(json.dumps({"error": f"no such tag: {args.delete}"}),
                  file=sys.stderr)
            return 2
        print(json.dumps({"deleted": args.delete}))
        return 0
    for name, meta in tt.list_tags(args.table).items():
        print(json.dumps({"tag": name, **meta}))
    return 0


def cmd_branch(args) -> int:
    """Write-audit-publish staging branches (table/branch.py): --create
    returns the branch ROOT, which every other command accepts as --table
    (replay/scan/verify run on the branch unmodified); --publish is the
    atomic fast-forward of main to the audited head."""
    from sfr_ingest_pipeline_spark.table import branch as br
    from sfr_ingest_pipeline_spark.table.transcript_table import (
        CommitConflictError,
    )

    if args.create:
        try:
            broot = br.create_branch(args.table, args.create, args.snapshot)
        except FileExistsError:
            print(json.dumps({"error": f"branch {args.create!r} already "
                              "exists"}), file=sys.stderr)
            return 2
        print(json.dumps({"branch": args.create, "root": broot}))
        return 0
    if args.publish:
        try:
            t = br.publish_branch(args.table, args.publish, drop=args.drop_after)
        except CommitConflictError as e:
            print(json.dumps({"error": str(e), "conflict": True}),
                  file=sys.stderr)
            return 3
        print(json.dumps({"published": args.publish,
                          "snapshot_id": t.snapshot.snapshot_id,
                          "last_batch_id": t.last_batch_id}))
        return 0
    if args.drop:
        try:
            br.drop_branch(args.table, args.drop)
        except FileNotFoundError:
            print(json.dumps({"error": f"no such branch: {args.drop}"}),
                  file=sys.stderr)
            return 2
        print(json.dumps({"dropped": args.drop}))
        return 0
    for name, meta in br.list_branches(args.table).items():
        print(json.dumps({"branch": name, **meta,
                          "root": br.branch_root(args.table, name)}))
    return 0


def cmd_inspect(args) -> int:
    """Metadata tables (Iceberg snapshots/files/partitions parity) as JSON
    lines — zero data I/O, manifests + snapshot log only."""
    from sfr_ingest_pipeline_spark.table import inspect as tinspect
    from sfr_ingest_pipeline_spark.table.transcript_table import TranscriptTable

    spark = _get_spark(args)
    spark.sparkContext.setLogLevel("ERROR")
    table = TranscriptTable.load(args.table)
    df = {
        "snapshots": tinspect.snapshots_df,
        "files": tinspect.files_df,
        "partitions": tinspect.partitions_df,
        "schemas": tinspect.schemas_df,
    }[args.what](spark, table)
    for line in df.toJSON().toLocalIterator():
        print(line)
    return 0


@_maintenance_guard
def cmd_delete(args) -> int:
    from sfr_ingest_pipeline_spark.config import EngineConfig
    from sfr_ingest_pipeline_spark.table.dml import delete_where

    spark = _get_spark(args)
    spark.sparkContext.setLogLevel("ERROR")
    cfg = EngineConfig(shuffle_partitions=args.shuffle_partitions or 32)
    res = delete_where(
        spark, args.table, args.where,
        conv_ids=args.conv_id or None,
        ts_us=_parse_ts_us(args.ts) if args.ts else None,
        config=cfg,
    )
    print(json.dumps(res.to_json()))
    return 0


@_maintenance_guard
def cmd_update(args) -> int:
    from sfr_ingest_pipeline_spark.config import EngineConfig
    from sfr_ingest_pipeline_spark.table.dml import update_where

    set_exprs = {}
    for item in args.set:
        col, _, expr = item.partition("=")
        if not _ or not col or not expr:
            print(json.dumps({"error": "bad_set_clause", "detail": item}))
            return 2
        set_exprs[col.strip()] = expr.strip()
    spark = _get_spark(args)
    spark.sparkContext.setLogLevel("ERROR")
    cfg = EngineConfig(shuffle_partitions=args.shuffle_partitions or 32)
    res = update_where(
        spark, args.table, args.where, set_exprs,
        conv_ids=args.conv_id or None,
        ts_us=_parse_ts_us(args.ts) if args.ts else None,
        config=cfg,
    )
    print(json.dumps(res.to_json()))
    return 0


@_maintenance_guard
def cmd_merge(args) -> int:
    from sfr_ingest_pipeline_spark.config import EngineConfig
    from sfr_ingest_pipeline_spark.table.dml import merge_into

    spark = _get_spark(args)
    spark.sparkContext.setLogLevel("ERROR")
    cfg = EngineConfig(shuffle_partitions=args.shuffle_partitions or 32)
    source = spark.read.parquet(args.source)
    res = merge_into(
        spark, args.table, source,
        when_matched=None if args.when_matched == "none" else args.when_matched,
        when_not_matched=(None if args.when_not_matched == "none"
                          else args.when_not_matched),
        conv_ids=args.conv_id or None,
        ts_us=_parse_ts_us(args.ts) if args.ts else None,
        config=cfg,
    )
    print(json.dumps(res.to_json()))
    return 0


@_maintenance_guard
def cmd_scrub(args) -> int:
    from sfr_ingest_pipeline_spark.config import EngineConfig
    from sfr_ingest_pipeline_spark.table.scrub import (
        residual_pii_files,
        scrub_pii,
    )

    spark = _get_spark(args)
    spark.sparkContext.setLogLevel("ERROR")
    cfg = EngineConfig(shuffle_partitions=args.shuffle_partitions or 32)
    cols = tuple(args.column or ["text"])
    if args.audit_only:
        offenders = residual_pii_files(spark, args.table, columns=cols)
        print(json.dumps({"op": "scrub_audit", "clean": not offenders,
                          "offending_files": offenders}))
        return 0 if not offenders else 1
    try:
        res = scrub_pii(
            spark, args.table, columns=cols,
            predicate=args.where,
            conv_ids=args.conv_id or None,
            expire=args.expire, keep_last=args.keep_last,
            ts_us=_parse_ts_us(args.ts) if args.ts else None,
            config=cfg,
        )
    except ValueError as e:
        print(json.dumps({"error": "erasure_pinned", "detail": str(e)}))
        return 3
    if args.expire:
        offenders = residual_pii_files(spark, args.table, columns=cols)
        res["audit_clean"] = not offenders
        print(json.dumps(res))
        return 0 if not offenders else 1
    print(json.dumps(res))
    return 0


def cmd_sql(args) -> int:
    """Ad-hoc Spark SQL over the table (registered as view `transcripts`,
    resolved snapshot honoring --as-of-batch/--as-of-ts/--tag) — the
    engine's answer to "just let me query it"; rows stream out as JSON
    lines without collecting the result on the driver."""
    from sfr_ingest_pipeline_spark.table.transcript_table import (
        TranscriptTable,
        load_tag,
    )

    spark = _get_spark(args)
    spark.sparkContext.setLogLevel("ERROR")
    if args.tag is not None:
        table = load_tag(args.table, args.tag)
    else:
        table = TranscriptTable.load(args.table)
    if args.as_of_batch is not None:
        table = table.load_snapshot_as_of_batch(args.as_of_batch)
    if args.as_of_ts is not None:
        table = table.load_snapshot_as_of_timestamp(_parse_ts_us(args.as_of_ts))
    table.scan(spark, with_meta=args.with_meta).createOrReplaceTempView(
        "transcripts"
    )
    df = spark.sql(args.query)
    for line in df.toJSON().toLocalIterator():
        print(line)
    return 0


def cmd_tail(args) -> int:
    """WAL-subscriber surface: consume the table's changelog from a
    durable cursor, printing each span's change rows as JSON lines and a
    summary line per span; the cursor advances only after a span is fully
    printed (at-least-once, like any ChangelogTail consumer)."""
    from sfr_ingest_pipeline_spark.streaming.tail import ChangelogTail

    spark = _get_spark(args)
    spark.sparkContext.setLogLevel("ERROR")
    tail = ChangelogTail(
        args.table, args.cursor_dir, pre_post=args.pre_post, step=args.step,
    )
    if args.seek is not None:
        tail.seek(args.seek)
    elif tail.cursor() is None and args.from_start:
        from sfr_ingest_pipeline_spark.table.transcript_table import (
            TranscriptTable,
        )

        ids = TranscriptTable._ids_on_disk(args.table)
        tail.seek(min(ids))
    spans = 0
    while (batch := tail.poll(spark)) is not None:
        n = 0
        for line in batch.df.toJSON().toLocalIterator():
            print(line)
            n += 1
        batch.commit()
        print(json.dumps({"span": [batch.from_snapshot_id,
                                   batch.to_snapshot_id], "rows": n}))
        spans += 1
        if args.max_spans is not None and spans >= args.max_spans:
            break
    if spans == 0:
        print(json.dumps({"caught_up": True, "cursor": tail.cursor()}))
    return 0


def cmd_sync(args) -> int:
    """Chained CDC: advance (or create) the replica at --dst from the
    changelog of --src; with --verify, independently check convergence."""
    from sfr_ingest_pipeline_spark.config import EngineConfig
    from sfr_ingest_pipeline_spark.table.sync import sync_table, verify_replica

    spark = _get_spark(args)
    spark.sparkContext.setLogLevel("ERROR")
    cfg = EngineConfig(shuffle_partitions=args.shuffle_partitions or 32,
                       column_merge=args.column_merge)
    rounds = 0
    while True:
        out = sync_table(
            spark, args.src, args.dst, config=cfg,
            step=args.step, max_spans=args.max_spans,
        )
        rounds += 1
        if not args.follow:
            break
        out["round"] = rounds
        print(json.dumps(out), flush=True)
        if args.max_rounds is not None and rounds >= args.max_rounds:
            break
        time.sleep(args.poll_sec)
    if args.verify:
        out["verify"] = verify_replica(spark, args.src, args.dst)
        print(json.dumps(out))
        return 0 if out["verify"]["ok"] else 1
    if not args.follow:
        print(json.dumps(out))
    return 0


def cmd_view_refresh(args) -> int:
    """Advance the incrementally-maintained rollup view to the table's
    current snapshot; prints the refresh counters as one JSON line."""
    from sfr_ingest_pipeline_spark.streaming.incremental import IncrementalAggView

    spark = _get_spark(args)
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    view = IncrementalAggView(args.view, args.table)
    result = view.refresh(spark)
    if args.compact:
        result["compacted_rows"] = view.compact(spark)
    result["sec"] = round(time.time() - t0, 2)
    print(json.dumps(result))
    return 0


def cmd_materialize(args) -> int:
    from sfr_ingest_pipeline_spark.streaming.materialize import (
        materialize_conversations,
    )

    spark = _get_spark(args)
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    n = materialize_conversations(spark, args.table, args.out)
    print(json.dumps({"documents": n, "out": args.out,
                      "sec": round(time.time() - t0, 2)}))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="sfr_ingest_pipeline_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("generate", help="write a seeded synthetic binlog")
    g.add_argument("--out", required=True)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--conversations", type=int, default=1000)
    g.add_argument("--events", type=int, default=100_000)
    g.add_argument("--segments", type=int, default=16)
    g.add_argument("--delete-ratio", type=float, default=0.05)
    g.add_argument("--duplicate-ratio", type=float, default=0.05)
    g.add_argument("--late-ratio", type=float, default=0.05)
    g.add_argument("--ts-tie-ratio", type=float, default=0.05)
    g.add_argument("--zipf", type=float, default=0.0)
    g.add_argument("--v2-from-segment", type=int, default=None)
    g.set_defaults(fn=cmd_generate)

    r = sub.add_parser("replay", help="bounded CDC replay binlog -> table")
    r.add_argument("--binlog", required=True, action="append",
                   help="binlog dir; repeat for multi-source union ingest")
    r.add_argument("--table", required=True)
    r.add_argument("--checkpoint", required=True)
    r.add_argument("--buckets", type=int, default=16)
    r.add_argument("--salt", type=int, default=8)
    r.add_argument("--column-merge", choices=["row", "coalesce"], default="row",
                   help="row: whole-row LWW; coalesce: field-level LWW "
                        "(partial updates only touch carried columns)")
    r.add_argument("--compact-delta-files", type=int, default=0,
                   help="delta commits a bucket holds before a batch "
                        "compacts it; 0 rewrites every touched bucket")
    r.add_argument("--max-files-per-trigger", type=int, default=None)
    r.add_argument("--v2-schema", action="store_true")
    r.add_argument("--quarantine-dir", default=None,
                   help="dead-letter sink: route malformed events (bad op, "
                        "null key/order) to <dir>/batch-N/ with a "
                        "_reject_reason instead of failing the stream")
    _add_spark_args(r)
    r.set_defaults(fn=cmd_replay)

    h = sub.add_parser("history", help="print snapshot log")
    h.add_argument("--table", required=True)
    h.set_defaults(fn=cmd_history)

    s = sub.add_parser("scan", help="read the converged table")
    s.add_argument("--table", required=True)
    s.add_argument("--limit", type=int, default=20)
    s.add_argument("--as-of-batch", type=int, default=None)
    s.add_argument("--as-of-ts", default=None,
                   help="time travel to the newest snapshot committed at or "
                        "before this wall-clock time (microseconds since "
                        "epoch, or an ISO-8601 datetime)")
    s.add_argument("--tag", default=None,
                   help="read the snapshot pinned by this named tag")
    s.add_argument("--ts-between", default=None,
                   help="'LO,HI' time window on the ts column (each epoch-µs "
                        "or ISO-8601): current-state rows in the closed "
                        "window, with manifest ts-stats file pruning")
    s.add_argument("--with-meta", action="store_true")
    _add_spark_args(s)
    s.set_defaults(fn=cmd_scan)

    fo = sub.add_parser("follow",
                        help="tail the commit log as a change stream "
                             "(durable cursor, at-least-once)")
    fo.add_argument("--table", required=True)
    fo.add_argument("--cursor", required=True, help="cursor directory")
    fo.add_argument("--from-snapshot", type=int, default=None,
                    help="seek before polling (e.g. 1 replays the whole "
                         "table as inserts); default: tail from now")
    fo.add_argument("--pre-post", action="store_true")
    fo.add_argument("--per-commit", action="store_true",
                    help="one batch per ingest commit instead of one net span")
    fo.add_argument("--max-polls", type=int, default=0,
                    help="empty polls to tolerate before exiting (0 = one "
                         "catch-up pass)")
    fo.add_argument("--interval", type=float, default=1.0)
    _add_spark_args(fo)
    fo.set_defaults(fn=cmd_follow)

    tg = sub.add_parser("tag", help="named immutable snapshot refs")
    tg.add_argument("--table", required=True)
    tg.add_argument("--create", metavar="NAME")
    tg.add_argument("--snapshot", type=int, default=None,
                    help="snapshot to pin (default: current)")
    tg.add_argument("--delete", metavar="NAME")
    tg.add_argument("--list", action="store_true")
    tg.set_defaults(fn=cmd_tag)

    br = sub.add_parser("branch",
                        help="write-audit-publish staging branches")
    br.add_argument("--table", required=True,
                    help="MAIN table root (not a branch root)")
    br.add_argument("--create", metavar="NAME")
    br.add_argument("--snapshot", type=int, default=None,
                    help="fork point for --create (default: current head)")
    br.add_argument("--publish", metavar="NAME",
                    help="fast-forward main to the branch head (atomic)")
    br.add_argument("--drop-after", action="store_true",
                    help="drop the branch after a successful --publish")
    br.add_argument("--drop", metavar="NAME",
                    help="abort a branch; staged files GC at next expire")
    br.add_argument("--list", action="store_true")
    br.set_defaults(fn=cmd_branch)


    c = sub.add_parser("compact", help="compact delta files into base files")
    c.add_argument("--table", required=True)
    c.add_argument("--tombstone-watermark-us", type=int, default=None)
    c.add_argument("--minor", action="store_true",
                   help="delta-only compaction: LWW-merge each bucket's delta "
                        "files into one, carrying base files forward untouched "
                        "(O(delta bytes), the steady-state pass at scale)")
    c.add_argument("--min-delta-files", type=int, default=2,
                   help="with --minor: skip buckets holding fewer deltas")
    _add_spark_args(c)
    c.set_defaults(fn=cmd_compact)

    rbk = sub.add_parser("rebucket", help="rewrite the table under a new bucket count")
    rbk.add_argument("--table", required=True)
    rbk.add_argument("--buckets", type=int, required=True)
    _add_spark_args(rbk)
    rbk.set_defaults(fn=cmd_rebucket)

    rb = sub.add_parser("rollback", help="restore an earlier snapshot as a new commit")
    rb.add_argument("--table", required=True)
    rb.add_argument("--to-snapshot", type=int, required=True)
    rb.set_defaults(fn=cmd_rollback)

    rc = sub.add_parser("recluster", help="range-split bucket files for key pruning")
    rc.add_argument("--table", required=True)
    rc.add_argument("--files-per-bucket", type=int, default=4)
    rc.add_argument("--zorder", action="store_true",
                    help="cluster on the (conv_id, ts) z-curve so point AND "
                         "time-window pruning hold on one layout")
    _add_spark_args(rc)
    rc.set_defaults(fn=cmd_recluster)

    dx = sub.add_parser(
        "dedup-index",
        help="refresh the incremental LSH near-dup index from the changelog",
    )
    dx.add_argument("--index", required=True, help="index directory")
    dx.add_argument("--table", required=True)
    dx.add_argument("--pairs", action="store_true",
                    help="also count candidate pairs from stored signatures")
    dx.add_argument("--kept", action="store_true",
                    help="maintain the composed near-dup VIEW (pair ledger + "
                         "verified jaccard + clusters) and report the kept-"
                         "doc count — the incremental near_dedup_kept_docs")
    _add_spark_args(dx)
    dx.set_defaults(fn=cmd_dedup_index)

    e = sub.add_parser("expire", help="expire old snapshots + GC data files")
    e.add_argument("--table", required=True)
    e.add_argument("--keep-last", type=int, default=5)
    e.add_argument("--orphan-grace-s", type=float, default=86_400.0,
                   help="never-committed files younger than this survive GC "
                        "(in-flight writer protection); committed history "
                        "expires immediately regardless")
    e.set_defaults(fn=cmd_expire)

    mz = sub.add_parser("materialize", help="denormalized conversation-document view")
    mz.add_argument("--table", required=True)
    mz.add_argument("--out", required=True)
    _add_spark_args(mz)
    mz.set_defaults(fn=cmd_materialize)

    ch = sub.add_parser("changes", help="incremental changelog between snapshots")
    ch.add_argument("--table", required=True)
    ch.add_argument("--from-snapshot", type=int, required=True)
    ch.add_argument("--to-snapshot", type=int, default=None)
    ch.add_argument("--limit", type=int, default=0)
    ch.add_argument("--pre-post", action="store_true",
                    help="Delta-CDF shape: updates fan out to "
                         "update_preimage + update_postimage rows")
    _add_spark_args(ch)
    ch.set_defaults(fn=cmd_changes)

    ins = sub.add_parser("inspect",
                         help="metadata tables: snapshots/files/partitions")
    ins.add_argument("what", choices=["snapshots", "files", "partitions", "schemas"])
    ins.add_argument("--table", required=True)
    _add_spark_args(ins)
    ins.set_defaults(fn=cmd_inspect)

    vw = sub.add_parser(
        "view-refresh",
        help="incrementally maintain the per-conversation rollup view "
             "from the table changelog (O(changes) per refresh)",
    )
    vw.add_argument("--table", required=True)
    vw.add_argument("--view", required=True, help="view directory (created on first run)")
    vw.add_argument("--compact", action="store_true",
                    help="also rewrite the view to one row per group")
    _add_spark_args(vw)
    vw.set_defaults(fn=cmd_view_refresh)

    dl = sub.add_parser(
        "delete",
        help="DELETE FROM table WHERE <expr>: tombstone matching live rows "
             "as an O(matched) MoR delta commit (changelog-visible)",
    )
    dl.add_argument("--table", required=True)
    dl.add_argument("--where", required=True, help="Spark SQL boolean expression")
    dl.add_argument("--conv-id", action="append",
                    help="restrict + manifest-prune to these conversations")
    dl.add_argument("--ts", help="logical delete time (us or ISO-8601; default now)")
    _add_spark_args(dl)
    dl.set_defaults(fn=cmd_delete)

    up = sub.add_parser(
        "update",
        help="UPDATE table SET col=expr[,..] WHERE <expr>: rewrite matching "
             "live rows' payload as an O(matched) MoR delta commit",
    )
    up.add_argument("--table", required=True)
    up.add_argument("--where", required=True)
    up.add_argument("--set", required=True, action="append",
                    help="col=spark_sql_expr (repeatable)")
    up.add_argument("--conv-id", action="append")
    up.add_argument("--ts", help="logical update time (us or ISO-8601; default now)")
    _add_spark_args(up)
    up.set_defaults(fn=cmd_update)

    sq = sub.add_parser(
        "sql",
        help="ad-hoc Spark SQL over the table (view name: transcripts); "
             "honors --as-of-batch/--as-of-ts/--tag time travel",
    )
    sq.add_argument("--table", required=True)
    sq.add_argument("query")
    sq.add_argument("--as-of-batch", type=int, default=None)
    sq.add_argument("--as-of-ts", default=None)
    sq.add_argument("--tag", default=None)
    sq.add_argument("--with-meta", action="store_true",
                    help="expose event_seq/_deleted/_del_hw raw versions")
    _add_spark_args(sq)
    sq.set_defaults(fn=cmd_sql)

    tl = sub.add_parser(
        "tail",
        help="consume the table changelog from a durable cursor (WAL "
             "subscriber): prints change rows + one summary line per span",
    )
    tl.add_argument("--table", required=True)
    tl.add_argument("--cursor-dir", required=True)
    tl.add_argument("--step", choices=["net", "per_commit"], default="net")
    tl.add_argument("--pre-post", action="store_true",
                    help="CDF shape: updates fan out to pre/post images")
    tl.add_argument("--seek", type=int, default=None,
                    help="position the cursor at a snapshot id first")
    tl.add_argument("--from-start", action="store_true",
                    help="fresh cursor starts at the oldest retained "
                         "snapshot instead of tail-from-now")
    tl.add_argument("--max-spans", type=int, default=None)
    _add_spark_args(tl)
    tl.set_defaults(fn=cmd_tail)

    sy = sub.add_parser(
        "sync",
        help="chained CDC: replicate --src into --dst incrementally from "
             "the source changelog (bootstrap on first run; exactly-once "
             "per span); --verify cross-checks replica == source",
    )
    sy.add_argument("--src", required=True)
    sy.add_argument("--dst", required=True)
    sy.add_argument("--step", choices=["net", "per_commit"], default="net")
    sy.add_argument("--column-merge", choices=["row", "coalesce"],
                    default="row",
                    help="the SOURCE table's merge semantics; coalesce "
                         "sources replicate with batch-wins-tie applies")
    sy.add_argument("--max-spans", type=int, default=None)
    sy.add_argument("--verify", action="store_true")
    sy.add_argument("--follow", action="store_true",
                    help="follower mode: keep polling (one JSON line per "
                         "round) instead of a single catch-up")
    sy.add_argument("--poll-sec", type=float, default=10.0)
    sy.add_argument("--max-rounds", type=int, default=None,
                    help="with --follow: stop after N rounds")
    _add_spark_args(sy)
    sy.set_defaults(fn=cmd_sync)

    sc = sub.add_parser(
        "scrub",
        help="GDPR PII scrub: redact text columns in place; with --expire "
             "also compact every bucket + GC history so the raw bytes "
             "leave disk, then self-audit (exit 1 if residue remains)",
    )
    sc.add_argument("--table", required=True)
    sc.add_argument("--column", action="append",
                    help="string column to redact (repeatable; default text)")
    sc.add_argument("--where", help="override the default any-PII predicate")
    sc.add_argument("--conv-id", action="append")
    sc.add_argument("--ts", help="logical update time (us or ISO-8601; default now)")
    sc.add_argument("--expire", action="store_true",
                    help="erasure mode: compact all buckets + expire history")
    sc.add_argument("--keep-last", type=int, default=1)
    sc.add_argument("--audit-only", action="store_true",
                    help="only run the residual-PII file audit")
    _add_spark_args(sc)
    sc.set_defaults(fn=cmd_scrub)

    mg = sub.add_parser(
        "merge",
        help="MERGE INTO table FROM a key-unique parquet source: "
             "WHEN MATCHED update/delete, WHEN NOT MATCHED insert",
    )
    mg.add_argument("--table", required=True)
    mg.add_argument("--source", required=True, help="parquet path (logical columns)")
    mg.add_argument("--when-matched", choices=["update", "delete", "none"],
                    default="update")
    mg.add_argument("--when-not-matched", choices=["insert", "none"],
                    default="insert")
    mg.add_argument("--conv-id", action="append")
    mg.add_argument("--ts", help="logical merge time (us or ISO-8601; default now)")
    _add_spark_args(mg)
    mg.set_defaults(fn=cmd_merge)

    q = sub.add_parser("query", help="run a named analytic query (JSON lines)")
    q.add_argument("name", nargs="?", help="query name (see --list)")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("--limit", type=int, default=0)
    q.add_argument("--list", action="store_true")
    q.add_argument("--explain", action="store_true",
                   help="print the formatted physical plan instead of rows")
    _add_spark_args(q)
    q.set_defaults(fn=cmd_query)

    v = sub.add_parser("verify", help="diff table vs independent binlog reduce")
    v.add_argument("--table", required=True)
    v.add_argument("--binlog", required=True, action="append")
    v.add_argument("--column-merge", choices=["row", "coalesce"], default="row")
    v.add_argument("--v2-schema", action="store_true",
                   help="read the binlog with the evolved (v2, +tool_meta) "
                        "event schema so post-evolution columns verify too")
    _add_spark_args(v)
    v.set_defaults(fn=cmd_verify)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
