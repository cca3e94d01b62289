from sfr_ingest_pipeline_spark.sources.binlog import (
    BinlogSource,
    read_binlog,
    tail_binlog_paths,
)

__all__ = ["BinlogSource", "read_binlog", "tail_binlog_paths"]
