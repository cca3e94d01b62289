"""Engine configuration.

All scale-relevant knobs live here so a 1000-executor deployment tunes one
object instead of hunting constants. Defaults are sized for local[32] tests;
the docstrings say how each knob moves at 100 TB.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class EngineConfig:
    """Knobs for the CDC apply path (SURVEY.md §4.3).

    Attributes
    ----------
    n_buckets:
        Number of hash buckets the transcripts table is clustered into by
        ``pmod(xxhash64(conv_id), n_buckets)``. MERGE only reads/writes
        buckets touched by a microbatch (bucket file pruning). At
        100 TB raise this so each bucket's live data is ~128-512 MB
        (e.g. 2^14 buckets); locally 16 keeps file counts small.
    n_salt:
        Salt fan-out for the two-phase LWW reduce. Hot (conv_id, turn_idx)
        keys (many duplicate deliveries of the same turn) are first reduced
        on (key, salt) then on (key), so no single reducer sees the whole
        hot key. 0/1 disables phase one.
    target_file_rows:
        Soft cap on rows per written data file; the writer adds
        ``ceil(rows/target_file_rows)`` shuffle partitions per bucket.
    lww_two_phase_threshold:
        Per-batch row count under which the salted phase is skipped —
        at small batches the extra shuffle costs more than skew could.
    shuffle_partitions:
        Default spark.sql.shuffle.partitions for apply jobs. With AQE on,
        this is an upper bound that AQE coalesces down from.
    """

    n_buckets: int = 16
    n_salt: int = 8
    # One write path with a compaction threshold: a touched bucket gets its
    # changed rows APPENDED as a delta file (O(batch) writes; readers
    # LWW-reduce base+deltas) until it holds the threshold of delta
    # commits, and is then compacted back to a base file in the same job.
    # "mor": the threshold is `compact_delta_files`.
    # "cow": the threshold is 0, so every touched bucket is rewritten every
    #        batch (O(touched table data) writes). It is mor compacting
    #        every batch, with files outside the batch's conv_id ranges
    #        carried forward unread.
    # "cow" stays the default (the library and the CLI's `replay`) because
    # it keeps a table delta-free, so reads skip the base+delta LWW resolve.
    # Measured with scripts/cow_mor_read_bench.py (8 batches of 20k events
    # over 2k conversations, 16 buckets, 4 cores): a full scan took 0.15 s
    # on the cow table vs 0.81 s with 8 deltas per bucket, a point read
    # 0.10 s vs 0.17 s, for about 1.5x the write time (BENCH/SUSTAINED.md).
    # Ingest at scale sets "mor", as bench.py and perfbench do: at 10^10
    # events cow write amplification grows with table size.
    merge_mode: str = "cow"
    # "row": whole-row LWW — the (ts, event_seq) winner's payload replaces
    #        the row, nulls included (BASELINE.json's normative rule).
    # "coalesce": field-level LWW (reference Work.update semantics,
    #        SURVEY.md §3.1 E2) — each payload column independently keeps
    #        the newest non-null value; a partial-update event only touches
    #        the columns it carries; tombstones still cut history.
    column_merge: str = "row"
    # Exact-(ts, event_seq)-tie resolution between a batch event and stored
    # state. "state" (default): state wins, so cross-batch re-deliveries
    # count as conflicts and never double-apply — correct when order ties
    # can only BE re-deliveries (the binlog contract: event_seq unique).
    # "batch": the batch row wins and persists as a newer stored version
    #          (disambiguated on read by commit recency) — required by the
    #          replication apply when the SOURCE is a coalesce-mode table,
    #          whose changelog legitimately re-emits a key at an unchanged
    #          winning order after a stale fill changed its payload;
    #          value-idempotent under re-delivery because the re-emitted
    #          folded state is byte-identical. Row-mode only.
    tie_wins: str = "state"
    # Ingest-time PII redaction (functions/pii.py): scrub email/SSN/phone/
    # IPv4 from `text` INSIDE the merge projection, after normalization,
    # on the O(keys) winner rows — so raw PII never reaches a data file
    # and no later GDPR rewrite is needed for the covered patterns. Pure
    # codegen (chained regexp_replace), idempotent (redacted text can't
    # re-match), so MoR carried-forward rows are safe to re-redact.
    redact_pii: bool = False
    # Per-data-file conv_id Bloom filters (table/bloom.py): built at
    # harvest time from each file's dictionary pages, probed at merge/DML
    # time when the batch's distinct conv set is small enough to collect
    # (<= bloom_probe_rows) — the scattered-point-correction workload the
    # range envelope can't prune. None disables build; 0 disables probing.
    file_bloom_fpp: float | None = 0.01
    bloom_probe_rows: int = 5000
    # Dead-letter sink (operators/merge.py _quarantine_invalid): malformed
    # events (bad op code, null key, null LWW order) are written to
    # <quarantine_dir>/batch-<id>/ with a _reject_reason instead of
    # poisoning the table or failing the stream. None (default) skips
    # validation entirely — zero cost when the transport is trusted.
    quarantine_dir: str | None = None
    compact_delta_files: int = 8
    target_file_rows: int = 2_000_000
    lww_two_phase_threshold: int = 100_000
    shuffle_partitions: int = 32
    # Columns that make up the natural key of a transcript turn.
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx")
    # Columns defining the last-writer-wins total order (major..minor).
    order_cols: tuple[str, ...] = ("ts", "event_seq")
    def __post_init__(self):
        if self.merge_mode not in ("cow", "mor"):
            raise ValueError(f"merge_mode must be cow|mor, got {self.merge_mode!r}")
        if self.column_merge not in ("row", "coalesce"):
            raise ValueError(
                f"column_merge must be row|coalesce, got {self.column_merge!r}"
            )
        if self.tie_wins not in ("state", "batch"):
            raise ValueError(f"tie_wins must be state|batch, got {self.tie_wins!r}")
        if self.tie_wins == "batch" and self.column_merge != "row":
            raise ValueError(
                "tie_wins='batch' requires column_merge='row' (the coalesce "
                "fold has its own per-column tie semantics)"
            )

    # Spark confs applied by session helpers / spark-submit wrappers.
    spark_confs: dict = field(
        default_factory=lambda: {
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.coalescePartitions.enabled": "true",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            # AQE's default 64 MB advisory size coalesces a ~1 GB microbatch
            # shuffle down to ~16 reduce tasks — too few for 32 cores
            # (measured: the fused merge agg drops 4.7s -> 2.2s at 32 cores
            # with 16 MB). At 100 TB per-batch shuffles are far larger and
            # the advisory size should go back up (64-128 MB) so reduce
            # tasks stay coarse; this is a bench/local sizing.
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
            "spark.sql.execution.arrow.pyspark.enabled": "true",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
            "spark.sql.shuffle.partitions": "32",
            "spark.sql.session.timeZone": "UTC",
            "spark.sql.parquet.compression.codec": "zstd",
            # int64 µs timestamps (the Iceberg physical type), NOT Spark's
            # INT96 compat default: INT96 writes no column min/max stats,
            # which would blind the manifest's per-file ts bounds (time-
            # windowed scan pruning) and every engine's row-group skipping
            "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        }
    )


DEFAULT_CONFIG = EngineConfig()
