"""sfr_ingest_pipeline_spark — a from-scratch PySpark-native CDC/incremental-ingest engine.

Re-imagines the ETL loop of the public NYPL/sfr-ingest-pipeline monorepo
(change tail -> key lookup -> dedup -> merge/upsert -> materialization; see
SURVEY.md §0.2/§2) as:

  binlog/WAL-style change-event tail (Structured Streaming file source)
    -> Arrow-vectorized text normalization (pandas UDF, no per-row Python)
    -> salted two-phase last-writer-wins reduce by (ts, event_seq)
    -> merge-on-read MERGE (delta appends, per-bucket compaction) into an
       Iceberg-style snapshot-log Parquet table
       keyed on (conv_id, turn_idx)
    -> exactly-once via idempotent batch-id markers in snapshot properties
    -> per-partition lineage + per-microbatch counters
       (events_applied, dedup_dropped, merge_conflicts)

Everything is DataFrame-first: Catalyst/AQE does all relational optimization;
custom code lives outside the planner (table commit layer, file pruning,
salting, exactly-once markers, schema evolution). See SURVEY.md §4.
"""

from sfr_ingest_pipeline_spark import pyworker
from sfr_ingest_pipeline_spark.config import EngineConfig
from sfr_ingest_pipeline_spark.schema import (
    CHANGE_EVENT_SCHEMA,
    CHANGE_EVENT_SCHEMA_V2,
    TRANSCRIPT_SCHEMA,
)

__version__ = "0.1.0"

# inside a Spark Python worker task: stop the per-task zip-directory re-read
pyworker.install_in_spark_worker()

__all__ = [
    "EngineConfig",
    "CHANGE_EVENT_SCHEMA",
    "CHANGE_EVENT_SCHEMA_V2",
    "TRANSCRIPT_SCHEMA",
    "__version__",
]
