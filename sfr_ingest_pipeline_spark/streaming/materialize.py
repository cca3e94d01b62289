"""Downstream materialization: the Elasticsearch-manager analog (SURVEY.md
§2.1 S7, §3.1 E3).

The reference's es-manager reads each changed Work's full graph and bulk-
indexes a denormalized nested document. Here the equivalent is a
conversation-level document view built FROM the converged transcripts table:
one row per conversation with its turns assembled in order — the
"read-optimized projection" consumers index or embed.

Incremental form: pass the batch's touched conv_ids (from MergeResult /
lineage) to rebuild only changed documents — the same changed-keys-only
pattern the reference uses (uuid stream -> es-manager). Refreshed documents
are APPENDED stamped with the table snapshot_id (an ES bulk-upsert analog:
last write wins per conv_id); ``read_documents`` resolves to the newest
version per conversation, and ``compact_documents`` rewrites the view back
to one physical row per conv_id. A conversation whose turns were all
deleted since the last refresh gets an explicit ``n_turns=0`` tombstone row
so readers drop it.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from sfr_ingest_pipeline_spark.operators.lww import lww_reduce
from sfr_ingest_pipeline_spark.table.transcript_table import TranscriptTable


def conversation_documents(transcripts: DataFrame) -> DataFrame:
    """Denormalized per-conversation document from transcript turns.

    Ordered assembly uses array_sort over (turn_idx-keyed structs) — no
    window, no UDF; one shuffle on conv_id."""
    turn = F.struct(
        F.col("turn_idx"), F.col("role"), F.col("text"), F.col("ts")
    )
    ordered = F.array_sort(F.collect_list(turn))
    return transcripts.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.max("ts").alias("last_ts"),
        F.concat_ws(
            "\n", F.transform(ordered, lambda t: F.concat_ws(": ", t["role"], t["text"]))
        ).alias("document"),
        F.transform(ordered, lambda t: t["turn_idx"]).alias("turn_idxs"),
    )


def materialize_conversations(
    spark: SparkSession,
    table_root: str,
    out_dir: str,
    conv_ids: "list[str] | DataFrame | None" = None,
) -> int:
    """Write the conversation-document view; with ``conv_ids`` only changed
    conversations are recomputed and appended as a new version (LWW by
    ``snapshot_id`` on read — see ``read_documents``). Returns documents
    written, counted by an Observation on the write itself (no second pass).

    ``conv_ids`` may be a small driver-side list (bucket + isin point
    pruning, the common per-span path) or a DataFrame of ``conv_id`` for
    large change spans (one semi-joined scan, nothing data-sized collected
    to the driver — the full-resync path)."""
    table = TranscriptTable.load(table_root)
    if isinstance(conv_ids, DataFrame):
        requested = conv_ids.select("conv_id").distinct()
        scan = table.scan(spark).join(requested, "conv_id", "left_semi")
    elif conv_ids is not None:
        from sfr_ingest_pipeline_spark.functions.xxh import bucket_of

        requested = spark.createDataFrame(
            [(c,) for c in conv_ids], "conv_id string"
        )
        buckets = {bucket_of(c, table.n_buckets) for c in conv_ids}
        scan = table.scan(spark, buckets=buckets).filter(
            F.col("conv_id").isin(conv_ids)
        )
    else:
        requested = None
        scan = table.scan(spark)
    docs = conversation_documents(scan)
    if requested is not None:
        # conversations with no live turns left still need a fresh version
        # that marks them gone, else the stale document would win forever
        gone = requested.join(docs.select("conv_id"), "conv_id", "left_anti").select(
            "conv_id",
            F.lit(0).cast("long").alias("n_turns"),
            F.lit(None).cast("timestamp").alias("last_ts"),
            F.lit(None).cast("string").alias("document"),
            F.lit(None).cast("array<int>").alias("turn_idxs"),
        )
        docs = docs.unionByName(gone)
    docs = docs.withColumn(
        "snapshot_id", F.lit(table.snapshot.snapshot_id).cast("long")
    )
    obs = Observation(f"mat_{uuid.uuid4().hex[:6]}")
    docs = docs.observe(obs, F.count(F.lit(1)).alias("n"))
    docs.write.mode("overwrite" if conv_ids is None else "append").parquet(out_dir)
    return int(obs.get["n"])


def read_documents(spark: SparkSession, out_dir: str) -> DataFrame:
    """Current document per conversation: newest ``snapshot_id`` wins;
    conversations whose latest version is a deletion marker are dropped."""
    cur = lww_reduce(spark.read.parquet(out_dir), ["conv_id"], ["snapshot_id"])
    return cur.filter(F.col("n_turns") > 0)


def compact_documents(spark: SparkSession, out_dir: str) -> int:
    """Rewrite the view to one physical row per conv_id (drops superseded
    versions and deletion markers). Returns rows retained."""
    cur = read_documents(spark, out_dir)
    obs = Observation(f"matc_{uuid.uuid4().hex[:6]}")
    cur = cur.observe(obs, F.count(F.lit(1)).alias("n"))
    tmp = f"{out_dir.rstrip('/')}.compact-{uuid.uuid4().hex[:8]}"
    cur.write.mode("overwrite").parquet(tmp)
    # swap via rename-aside so a usable view exists at every step: a crash
    # between the two renames leaves the old view under .old-* (recoverable),
    # never a missing directory as rmtree-then-replace would
    old = f"{out_dir.rstrip('/')}.old-{uuid.uuid4().hex[:8]}"
    os.replace(out_dir, old)
    os.replace(tmp, out_dir)
    shutil.rmtree(old)
    return int(obs.get["n"])


def sync_documents_from_changelog(
    spark: SparkSession,
    tail,
    table_root: str,
    out_dir: str,
) -> dict:
    """Drive the document view from the table's changelog (the reference's
    uuid-stream -> es-manager loop, re-expressed over :class:`ChangelogTail`):
    each polled batch names exactly the conversations whose documents are
    stale, so the refresh is O(changed conversations) per span — deletes
    included (a fully-deleted conversation gets its ``n_turns=0`` marker via
    the ``conv_ids`` path). The tail's cursor makes the loop resumable; the
    snapshot-stamped append keeps re-processing after a crash idempotent.

    Small spans (the steady-state case) collect the touched-conversation
    list to the driver for bucket + isin point pruning — O(changed
    conversations per span), the same cardinality the reference pushed
    through its uuid stream. A span touching more than
    ``_POINT_PRUNE_LIMIT`` conversations (e.g. a ``seek(1)`` full resync,
    where the span IS the table) switches to a semi-joined scan instead:
    nothing data-sized ever reaches the driver."""
    from sfr_ingest_pipeline_spark.streaming.incremental import (
        _POINT_PRUNE_LIMIT,
    )

    batches = 0
    docs = 0
    while (batch := tail.poll(spark)) is not None:
        convs_df = batch.df.select("conv_id").distinct()
        n_convs = convs_df.count()
        if n_convs > _POINT_PRUNE_LIMIT:
            docs += materialize_conversations(
                spark, table_root, out_dir, conv_ids=convs_df
            )
        elif n_convs:
            convs = [r.conv_id for r in convs_df.collect()]
            docs += materialize_conversations(
                spark, table_root, out_dir, conv_ids=convs
            )
        batch.commit()
        batches += 1
    return {"batches": batches, "documents_refreshed": docs}
