"""Binlog/WAL sources: the change-event tail the engine consumes.

The reference tails four external feeds (HathiTrust CSV, Gutenberg RDF,
DOAB OAI-PMH, MET JSON — lambdas/sfr-*-reader in NYPL/sfr-ingest-pipeline,
reconstructed; SURVEY.md §2.1 S1-S4) and unions them into ONE pipeline over
Kinesis (S5/U1). Here each feed is a directory of append-only parquet
segment files with its own (possibly drifted) schema; multiple sources merge
via unionByName(allowMissingColumns=True), which doubles as the
schema-evolution merge on read (SURVEY.md §2.7 U1).

The streaming tail carries file paths only: each source is a ``binaryFile``
stream projected to ``path``, Structured Streaming tracks its offsets per
source inside one checkpoint (so a multi-source replay resumes exactly like a
single-source one), and each microbatch's events are then read from its
collected paths by the same loader as the batch read.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sfr_ingest_pipeline_spark.schema import CHANGE_EVENT_SCHEMA


# A segment path from the tail is a decoded path string, and a read
# glob-expands its paths: Hadoop's glob metacharacters in a segment name are
# escaped so the name matches literally.
_GLOB_CHARS = re.compile(r"([\\\[\]{}*?])")

# binaryFile is a fixed-schema format, but a stream still needs it explicitly.
_BINARY_FILE_SCHEMA = T.StructType([
    T.StructField("path", T.StringType()),
    T.StructField("modificationTime", T.TimestampType()),
    T.StructField("length", T.LongType()),
    T.StructField("content", T.BinaryType()),
])


@dataclass(frozen=True)
class BinlogSource:
    path: str
    schema: T.StructType = CHANGE_EVENT_SCHEMA
    # "parquet" or "jsonl" — the reference's transport is JSON envelopes on
    # Kinesis (SURVEY.md §1.1), so JSONL segment files are a first-class
    # wire format; schemas stay explicit (never inferred) either way.
    format: str = "parquet"
    # event_seq ranges must be disjoint across sources (generator contract);
    # nothing here enforces it — LWW ties on (ts, event_seq) across sources
    # would otherwise be payload-nondeterministic.

    def _load(self, spark: SparkSession, paths: list[str] | None = None) -> DataFrame:
        """The whole source, or only the segment files in ``paths``."""
        if paths is None:
            paths = [self.path]
        elif not paths:
            return spark.createDataFrame([], self.schema)
        else:
            paths = [_GLOB_CHARS.sub(r"\\\1", p) for p in paths]
        reader = spark.read.schema(self.schema)
        if self.format == "jsonl":
            return reader.json(paths)
        return reader.parquet(*paths)


def _coerce(sources) -> list[BinlogSource]:
    if isinstance(sources, (str, BinlogSource)):
        sources = [sources]
    return [s if isinstance(s, BinlogSource) else BinlogSource(s) for s in sources]


def read_binlog(
    spark: SparkSession, sources, paths: list[list[str]] | None = None
) -> DataFrame:
    """Batch read of one or more binlog dirs, schema-unioned.

    ``paths`` (one list per source) restricts the read to those segment
    files; a source with an empty list adds no rows but keeps its columns,
    so the result always carries the full unioned schema."""
    sources = _coerce(sources)
    dfs = [s._load(spark, None if paths is None else paths[i])
           for i, s in enumerate(sources)]
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


def tail_binlog_paths(
    spark: SparkSession,
    sources,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming tail of one or more binlog dirs as ``(source, path)`` rows:
    one row per newly arrived segment file, ``source`` indexing ``sources``.

    ``maxFilesPerTrigger`` applies per source; at scale pick it so the sum of
    per-source microbatch shuffles fits executor memory."""
    streams = []
    for i, s in enumerate(_coerce(sources)):
        reader = spark.readStream.format("binaryFile").schema(_BINARY_FILE_SCHEMA)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        streams.append(
            reader.load(s.path).select(F.lit(i).alias("source"), "path")
        )
    out = streams[0]
    for df in streams[1:]:
        out = out.union(df)
    return out
