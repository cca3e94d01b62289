"""Streaming replay spine: binlog tail -> foreachBatch MERGE (SURVEY.md §2.9).

The reference consumes Kinesis/SQS with at-least-once delivery and hand-rolled
idempotency (lookup-before-insert; SURVEY.md §1.1); here the change tail is a
Structured Streaming file source over append-only binlog segments, and
idempotency is structural: Structured Streaming replays a crashed microbatch
with the SAME batch_id, and ``apply_batch`` skips batch ids already recorded
in the table's snapshot properties (SURVEY.md §4.4 — the one subtle corner:
crash between snapshot commit and checkpoint write).

A microbatch is built one way: the stream carries only the new segment
files' paths (``sources.binlog.tail_binlog_paths``), and ``foreachBatch``
collects them and reads the events with a native file scan
(``sources.binlog.read_binlog``). The df Structured Streaming itself hands to
foreachBatch is an ExistingRDD over the source's incremental plan: column
pruning cannot cross that boundary, so every action on it would re-decode
every column of the batch, and the MERGE runs two actions per batch (bucket
discovery + the merge). The native scan prunes (discovery reads conv_id
only) and fuses the decode into the downstream stage by whole-stage codegen.
Row order within a batch is immaterial to the fused LWW aggregate (ties
break on (ts, event_seq, src_rank), and event_seq is unique).

Resume = same checkpointLocation + same table: offsets come from the
checkpoint, sink state from the snapshot log; both are consulted, neither
alone is transactional.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from sfr_ingest_pipeline_spark.config import DEFAULT_CONFIG, EngineConfig
from sfr_ingest_pipeline_spark.operators.merge import MergeResult, apply_batch
from sfr_ingest_pipeline_spark.schema import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
from sfr_ingest_pipeline_spark.table.transcript_table import TranscriptTable


def replay_stream(
    spark: SparkSession,
    binlog_dir,
    table_root: str,
    checkpoint_dir: str,
    config: EngineConfig = DEFAULT_CONFIG,
    event_schema: T.StructType = CHANGE_EVENT_SCHEMA,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    on_batch: Callable[[MergeResult], None] | None = None,
    fail_after_batch: int | None = None,
) -> list[MergeResult]:
    """Tail ``binlog_dir`` and MERGE each microbatch into the table.

    ``available_now=True`` gives a bounded replay that drains everything
    currently in the binlog then stops (the driver for golden-fixture replays
    and benchmarks). ``max_files_per_trigger`` bounds microbatch size — at
    scale, pick it so a microbatch's shuffle fits executor memory.

    ``fail_after_batch`` injects a crash AFTER the snapshot commit of that
    batch id but BEFORE the streaming checkpoint records it — the §4.4
    corner; tests use it to prove exactly-once on resume.

    ``binlog_dir`` may be a path, a BinlogSource, or a list of either —
    multiple per-feed tails union into one pipeline (SURVEY.md §2.7 U1) with
    per-source offsets tracked in the same checkpoint; a source may carry a
    drifted (wider) schema via BinlogSource(path, schema).
    """
    from sfr_ingest_pipeline_spark.sources.binlog import (
        BinlogSource,
        read_binlog,
        tail_binlog_paths,
    )
    if not TranscriptTable.exists(table_root):
        logical = T.StructType(
            [f for f in event_schema.fields if f.name not in ("op", "event_seq")]
        )
        # start from the v1 transcript schema if the stream carries it;
        # otherwise the stream's own logical shape
        base = TRANSCRIPT_SCHEMA if all(
            f.name in [x.name for x in logical.fields] for f in TRANSCRIPT_SCHEMA.fields
        ) else logical
        TranscriptTable.create(
            table_root, schema=base, n_buckets=config.n_buckets,
            key_cols=config.key_cols, order_cols=config.order_cols,
        )

    if isinstance(binlog_dir, (str, BinlogSource)):
        sources = [binlog_dir if isinstance(binlog_dir, BinlogSource)
                   else BinlogSource(binlog_dir, event_schema)]
    else:
        sources = [s if isinstance(s, BinlogSource) else BinlogSource(s, event_schema)
                   for s in binlog_dir]
    new_files = tail_binlog_paths(
        spark, sources, max_files_per_trigger=max_files_per_trigger
    )
    results: list[MergeResult] = []

    class _InjectedCrash(RuntimeError):
        pass

    def _apply(files: DataFrame, batch_id: int) -> None:
        paths: list[list[str]] = [[] for _ in sources]
        for row in files.collect():
            paths[row.source].append(row.path)
        events = read_binlog(spark, sources, paths)
        res = apply_batch(spark, table_root, events, batch_id, config=config)
        results.append(res)
        if on_batch is not None:
            on_batch(res)
        if fail_after_batch is not None and batch_id >= fail_after_batch:
            raise _InjectedCrash(f"injected crash after commit of batch {batch_id}")

    writer = (
        new_files.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("cdc-replay")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    try:
        q.awaitTermination()
    except Exception as exc:  # injected crash surfaces as StreamingQueryException
        if fail_after_batch is None or "injected crash" not in str(exc):
            raise
    return results


def replay_batch(
    spark: SparkSession,
    binlog_dir: str,
    config: EngineConfig = DEFAULT_CONFIG,
    event_schema: T.StructType | None = None,
    normalize: bool = True,
) -> DataFrame:
    """One-shot batch replay WITHOUT the table layer: the minimum end-to-end
    slice (SURVEY.md §7 M1). Reads every segment, normalizes, LWW-reduces,
    drops deleted keys, returns the converged transcript state ordered by
    (conv_id, turn_idx). Equivalent SQL (DuckDB oracle): arg_max / row_number
    over (ts, event_seq) per key."""
    from pyspark.sql import functions as F

    from sfr_ingest_pipeline_spark.functions.normalize import normalize_text_udf
    from sfr_ingest_pipeline_spark.operators.lww import lww_reduce

    reader = spark.read
    if event_schema is not None:
        reader = reader.schema(event_schema)
    events = reader.option("mergeSchema", "true").parquet(binlog_dir)
    winners = lww_reduce(
        events, list(config.key_cols), list(config.order_cols), n_salt=config.n_salt
    )
    if normalize:
        # normalize AFTER the reduce: the pandas UDF sees O(keys) winner rows,
        # not O(events) — same winners either way, since normalization does
        # not touch the key or order columns (the merge path does the same,
        # operators/merge.py)
        winners = winners.withColumn("text", normalize_text_udf("text"))
    if config.redact_pii:
        from sfr_ingest_pipeline_spark.functions.pii import redact_pii

        winners = winners.withColumn("text", redact_pii("text"))
    out = winners.filter(F.col("op") != "D").drop("op")
    return out.orderBy(*config.key_cols)
