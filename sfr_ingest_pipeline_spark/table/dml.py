"""Row-level DML on the transcript table: ``DELETE FROM ... WHERE`` and
``UPDATE ... SET ... WHERE`` (SURVEY.md §2.11 MERGE family — the ad-hoc
correction surface every lake table grows next to its CDC feed; Iceberg/Delta
row-level-DML analog re-expressed on this engine's LWW + merge-on-read
layout).

Design: a DML statement is a NORMAL ingest-shaped commit, not a physical
rewrite. Matching keys get one new stored version each, with the LWW order
advanced past the current winner — a delete writes a tombstone and raises the
key's ``_del_hw`` delete memory (so late CDC events older than the delete
stay dead, same rule as streamed deletes), an update writes the post-image.
That buys, for free, every property the ingest path already proved:

* O(matched keys) write amplification — a predicate matching 100 rows in a
  100 TB table appends ~100 rows of delta, no base file is rewritten
  (compaction folds them later, exactly like streamed updates);
* time travel and rollback see through it (the parent snapshot still resolves
  to the pre-DML state);
* the changelog sees it: the commit's added delta files carry exactly the
  changed keys, so ``changes_between`` emits delete / update_pre+postimage
  rows and downstream incremental views (``streaming/incremental.py``) stay
  maintainable — a DML commit is deliberately NOT tagged ``maintenance``
  (maintenance commits are changelog-invisible by contract);
* exactly-once bookkeeping is untouched: the batch-id marker carries forward
  (a DML commit must never make a replayed CDC batch look new).

Scale: the predicate is applied AFTER per-key LWW resolution (only the live
winner's payload defines a match — a superseded version matching the
predicate must not fire), so payload predicates cannot push below the
aggregate; key-column predicates can and do (Catalyst pushes grouping-key
filters through the groupBy into the parquet scan). For point-ish deletes the
caller passes ``conv_ids`` and the scan prunes manifest-level to the keys'
buckets + conv_id-range files before any I/O — the DML twin of
``read_conversation`` pruning.

Isolation: snapshot-level (Delta's WriteSerializable analog). The predicate
is evaluated against the loaded snapshot; the CAS commit rebases onto a
concurrent winner only when every bucket this DML wrote is byte-identical —
so a concurrent write to a MATCHED key's bucket conflicts (exit-4 retry),
while a concurrent insert in an UNTOUCHED bucket that would have matched the
predicate is admitted (the DML simply ran "first" in the serial order). A
correction's LWW order advances past the snapshot winner, so manual DML beats
late-arriving CDC events for the same key — deliberate: corrections are
issued by operators who saw the bad row, and a late feed event must not
silently undo them.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sfr_ingest_pipeline_spark.config import DEFAULT_CONFIG, EngineConfig
from sfr_ingest_pipeline_spark.table.transcript_table import (
    DataFileInfo,
    TranscriptTable,
    resolve_stored_versions,
)


@dataclass
class DmlResult:
    op: str
    rows_matched: int
    committed: bool
    snapshot_id: int | None
    files_read: int
    files_pruned: int
    elapsed_sec: float
    touched_buckets: list[int] = field(default_factory=list)

    def to_json(self) -> dict:
        return dict(self.__dict__)


def delete_where(
    spark: SparkSession,
    table_root: str,
    predicate: str,
    *,
    conv_ids: list[str] | None = None,
    ts_us: int | None = None,
    config: EngineConfig = DEFAULT_CONFIG,
) -> DmlResult:
    """Tombstone every live row matching ``predicate`` (a Spark SQL boolean
    expression over the logical columns), advancing each key's LWW order and
    its ``_del_hw`` delete high-water mark.

    ``ts_us``: the delete's logical timestamp (default: now). The stored
    order is ``(greatest(row ts, ts_us), event_seq + 1)`` — strictly greater
    than the current winner even under clock skew or synthetic future data,
    so the tombstone wins LWW deterministically."""
    return _dml_commit(spark, table_root, "delete", predicate, None,
                       conv_ids=conv_ids, ts_us=ts_us, config=config)


def update_where(
    spark: SparkSession,
    table_root: str,
    predicate: str,
    set_exprs: dict[str, str],
    *,
    conv_ids: list[str] | None = None,
    ts_us: int | None = None,
    config: EngineConfig = DEFAULT_CONFIG,
) -> DmlResult:
    """Rewrite the payload of every live row matching ``predicate``:
    each ``set_exprs`` entry is column -> Spark SQL expression evaluated
    against the row's CURRENT state (so ``{"text": "upper(text)"}`` works).
    Key columns and order columns cannot be SET — changing a key is a
    delete + insert, changing the order column would corrupt LWW."""
    table = TranscriptTable.load(table_root)
    illegal = (set(set_exprs)
               & (set(table.snapshot.key_cols) | set(table.snapshot.order_cols)))
    if illegal:
        raise ValueError(
            f"UPDATE cannot SET key/order columns {sorted(illegal)}; "
            "delete + re-insert via the CDC feed instead"
        )
    unknown = set(set_exprs) - {f.name for f in table.schema.fields}
    if unknown:
        raise ValueError(f"UPDATE SET references unknown columns {sorted(unknown)}")
    return _dml_commit(spark, table_root, "update", predicate, set_exprs,
                       conv_ids=conv_ids, ts_us=ts_us, config=config)


def _pruned_files(
    table: TranscriptTable, conv_ids: list[str] | None
) -> tuple[list[DataFileInfo], int]:
    """(files to read, files pruned) — manifest-level bucket + conv_id-range
    pruning when the caller names the target conversations."""
    if not conv_ids:
        files = table.files
        return files, 0
    from sfr_ingest_pipeline_spark.functions.xxh import bucket_of

    buckets = {bucket_of(c, table.n_buckets) for c in conv_ids}
    in_buckets = table.files_in_buckets(buckets)
    lo, hi = min(conv_ids), max(conv_ids)
    # range envelope, then per-file Bloom point-probe (table/bloom.py) —
    # the caller named the exact conversations, so the probe set is free
    from sfr_ingest_pipeline_spark.table.bloom import BloomReader, hash_keys

    reader = BloomReader(table.root)
    hashed = hash_keys(conv_ids)
    files = [
        f for f in in_buckets
        if (f.conv_id_max is None or f.conv_id_max >= lo)
        and (f.conv_id_min is None or f.conv_id_min <= hi)
        and reader.may_contain_any(f, hashed)
    ]
    return files, len(table.files) - len(files)


def _dml_commit(
    spark: SparkSession,
    table_root: str,
    op: str,
    predicate: str,
    set_exprs: dict[str, str] | None,
    *,
    conv_ids: list[str] | None,
    ts_us: int | None,
    config: EngineConfig,
) -> DmlResult:
    t0 = time.time()
    table = TranscriptTable.load(table_root)
    key_cols = list(table.snapshot.key_cols)
    order_cols = list(table.snapshot.order_cols)
    stamp_us = int(time.time() * 1e6) if ts_us is None else int(ts_us)

    files, n_pruned = _pruned_files(table, conv_ids)
    raw = table.scan(spark, with_meta=True, files=files)
    cur = resolve_stored_versions(raw, key_cols, order_cols).drop("_cseq")
    live = cur.filter(~F.col("_deleted"))
    if conv_ids:
        live = live.filter(F.col("conv_id").isin(list(conv_ids)))
    matched = live.filter(F.expr(predicate))

    out = matched
    if op != "delete":
        # SET expressions evaluate against the row's CURRENT state — BEFORE
        # the order columns are advanced below, so an expression referencing
        # ts/event_seq sees the stored values, not the bumped ones.
        for col, expr in (set_exprs or {}).items():
            out = out.withColumn(col, F.expr(expr).cast(
                table.schema[col].dataType))

    # ---- advance the LWW order past the current winner ---------------------
    # order = (greatest(ts, stamp), event_seq + 1): the +1 on the minor order
    # makes the new version strictly greater even when ts saturates; commit
    # recency (commit_seq_col) breaks any residual tie in this version's
    # favor anyway.
    if order_cols and order_cols[0] == "ts":
        out = out.withColumn(
            "ts", F.greatest(F.col("ts"), F.timestamp_micros(F.lit(stamp_us)))
        )
    minor = order_cols[-1] if order_cols else "event_seq"
    out = out.withColumn(
        minor, F.coalesce(F.col(minor), F.lit(0)).cast("long") + F.lit(1)
    )

    if op == "delete":
        hw = F.struct(*[F.col(c).alias(c) for c in order_cols])
        out = (
            out.withColumn("_deleted", F.lit(True))
            # delete memory: max with any prior delete so re-ordered history
            # can never lower the high-water mark
            .withColumn("_del_hw", F.greatest(F.col("_del_hw"), hw))
        )

    detail = {"predicate": predicate, "set": set_exprs, "conv_ids": conv_ids,
              "ts_us": stamp_us}
    return _commit_delta(table, out, op, detail, config,
                         files_read=len(files), files_pruned=n_pruned, t0=t0)


def _commit_delta(
    table: TranscriptTable,
    out: DataFrame,
    op: str,
    detail: dict,
    config: EngineConfig,
    *,
    files_read: int,
    files_pruned: int,
    t0: float,
) -> DmlResult:
    """Write ``out`` (physical-schema rows, one new version per key) as a
    MoR delta append and commit it as a DML snapshot: batch-id marker
    carried forward, ``dml`` property recorded, changelog-visible."""
    new_files = table.write_bucketed(out, "dml", config, None, set())
    if not new_files:
        # nothing matched: no commit (the writer left no dir behind)
        return DmlResult(op, 0, False, None, files_read, files_pruned,
                         time.time() - t0)
    rows_matched = sum(f.rows for f in new_files)

    props = dict(table.snapshot.properties)  # carry batch_id marker forward
    props.pop("maintenance", None)
    props["dml"] = {"op": op, "rows_matched": rows_matched, **detail}
    touched = sorted({f.bucket for f in new_files})
    new_table = table.commit(set(), new_files, props)
    return DmlResult(op, rows_matched, True, new_table.snapshot.snapshot_id,
                     files_read, files_pruned, time.time() - t0, touched)


def merge_into(
    spark: SparkSession,
    table_root: str,
    source: DataFrame,
    *,
    when_matched: str | None = "update",
    when_not_matched: str | None = "insert",
    conv_ids: list[str] | None = None,
    ts_us: int | None = None,
    config: EngineConfig = DEFAULT_CONFIG,
) -> DmlResult:
    """Generic ``MERGE INTO`` from an arbitrary source DataFrame — the
    Iceberg/Delta multi-action merge statement on this engine's layout:

    * ``when_matched``: ``"update"`` (source payload columns replace the
      live row's; columns ABSENT from the source keep their live values),
      ``"delete"`` (tombstone + raise delete memory), or ``None`` (leave
      matched rows untouched);
    * ``when_not_matched``: ``"insert"`` (source row becomes a new turn;
      payload columns absent from the source land null) or ``None``.

    "Matched" means a LIVE row exists for the source key — a tombstoned
    key counts as not-matched (insert revives it with a fresh order that
    outranks its delete memory), matching Delta/Iceberg semantics where
    deleted rows are simply absent.

    The source must be key-unique: two source rows for one key would
    write two versions with the SAME advanced order (nondeterministic
    winner), so that raises up front — pre-aggregate the source instead
    (the CDC feed path, ``apply_batch``, is the right tool for ordered
    multi-event streams; MERGE INTO is the one-shot correction/backfill
    surface).

    Scale: the target read prunes to ``conv_ids`` when given (manifest
    bucket + range pruning, same as DELETE/UPDATE); the join is
    key-partitioned; the write is O(source rows) delta append. Exactly
    like the other DML verbs it is changelog-visible, carries the batch
    marker forward, and time travel sees through it.
    """
    if when_matched not in ("update", "delete", None):
        raise ValueError(f"when_matched must be update/delete/None, got {when_matched!r}")
    if when_not_matched not in ("insert", None):
        raise ValueError(f"when_not_matched must be insert/None, got {when_not_matched!r}")
    if when_matched is None and when_not_matched is None:
        raise ValueError("MERGE INTO with no actions is a no-op; pass at least one")
    t0 = time.time()
    table = TranscriptTable.load(table_root)
    key_cols = list(table.snapshot.key_cols)
    order_cols = list(table.snapshot.order_cols)
    stamp_us = int(time.time() * 1e6) if ts_us is None else int(ts_us)

    missing_keys = set(key_cols) - set(source.columns)
    if missing_keys:
        raise ValueError(f"source is missing key columns {sorted(missing_keys)}")
    logical_cols = [f.name for f in table.schema.fields]
    unknown = set(source.columns) - set(logical_cols)
    if unknown:
        raise ValueError(
            f"source carries columns {sorted(unknown)} not in the table "
            "schema; evolve the table first (ALTER-on-write via the ingest "
            "path) or drop them"
        )
    if conv_ids:
        source = source.filter(F.col("conv_id").isin(list(conv_ids)))
    dup = (
        source.groupBy(*key_cols).count().filter(F.col("count") > 1).limit(1).count()
    )
    if dup:
        raise ValueError(
            "source has multiple rows for at least one key; MERGE INTO "
            "requires a key-unique source (pre-aggregate, or use the CDC "
            "apply_batch path for ordered event streams)"
        )

    files, n_pruned = _pruned_files(table, conv_ids)
    raw = table.scan(spark, with_meta=True, files=files)
    cur = resolve_stored_versions(raw, key_cols, order_cols)

    src_payload = [c for c in source.columns if c not in key_cols]
    tgt_payload = [c for c in cur.columns if c not in key_cols]
    s = source.select(
        *key_cols, *[F.col(c).alias(f"_s_{c}") for c in src_payload]
    )
    joined = s.join(cur, key_cols, "left")

    matched = F.col("_deleted") == F.lit(False)  # null (no row) -> not matched
    keep = F.lit(False)
    if when_matched:
        keep = keep | matched
    if when_not_matched:
        keep = keep | ~F.coalesce(matched, F.lit(False))
    out = joined.filter(keep)

    # ---- new LWW order: strictly past the live winner (or delete memory)
    if order_cols and order_cols[0] == "ts":
        cands = [F.col("ts"), F.timestamp_micros(F.lit(stamp_us))]
        if "ts" in src_payload:
            cands.append(F.col("_s_ts"))
        out = out.withColumn("ts", F.greatest(*cands))
    minor = order_cols[-1] if order_cols else "event_seq"
    out = out.withColumn(
        minor, F.coalesce(F.col(minor), F.lit(0)).cast("long") + F.lit(1)
    )

    is_delete = matched & F.lit(when_matched == "delete")
    hw = F.struct(*[F.col(c).alias(c) for c in order_cols])
    for c in logical_cols:
        if c in key_cols or c in order_cols:
            continue
        if when_matched == "update" and c in src_payload:
            # source value replaces on match (including explicit null);
            # on insert the source value IS the row
            out = out.withColumn(
                c,
                F.when(F.coalesce(matched, F.lit(False)), F.col(f"_s_{c}"))
                .otherwise(F.col(f"_s_{c}")),
            )
        elif c in src_payload:
            # matched rows are deletes (or filtered); inserts take source
            out = out.withColumn(
                c, F.when(is_delete, F.col(c)).otherwise(F.col(f"_s_{c}"))
            )
        # else: keep live value on update, stays null on insert
    out = (
        out.withColumn("_deleted", F.coalesce(is_delete, F.lit(False)))
        .withColumn(
            "_del_hw",
            F.when(F.coalesce(is_delete, F.lit(False)),
                   F.greatest(F.col("_del_hw"), hw))
            .otherwise(F.col("_del_hw")),
        )
    )
    # write with the table's declared column types — a source built from
    # e.g. a CSV with narrower/wider types must not corrupt the physical
    # schema the scan path reads with
    types = {f.name: f.dataType for f in table.schema.fields}
    out = out.select(
        *[
            F.col(c).cast(types[c]).alias(c) if c in types else F.col(c)
            for c in (*key_cols, *tgt_payload)
        ],
    )

    detail = {
        "statement": "merge_into",
        "when_matched": when_matched,
        "when_not_matched": when_not_matched,
        "conv_ids": conv_ids,
        "ts_us": stamp_us,
    }
    return _commit_delta(table, out, "merge", detail, config,
                         files_read=len(files), files_pruned=n_pruned, t0=t0)
