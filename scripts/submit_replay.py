"""spark-submit entry point (north rule: 'run via spark-submit --py-files').

    python scripts/build_pyfiles.py engine.zip
    spark-submit --master local[8] --py-files engine.zip \
        scripts/submit_replay.py --binlog DIR --table DIR --checkpoint DIR

Inside spark-submit a SparkSession already exists (or is created by the
runtime); the engine modules resolve from the shipped zip."""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--binlog", required=True, action="append")
    ap.add_argument("--table", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--compact-delta-files", type=int, default=8)
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--salt", type=int, default=1)
    ap.add_argument("--max-files-per-trigger", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from sfr_ingest_pipeline_spark.config import EngineConfig
    from sfr_ingest_pipeline_spark.streaming.replay import replay_stream

    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    cfg = EngineConfig(
        n_buckets=args.buckets, n_salt=args.salt,
        compact_delta_files=args.compact_delta_files,
    )
    t0 = time.time()
    results = replay_stream(
        spark,
        args.binlog if len(args.binlog) > 1 else args.binlog[0],
        args.table,
        args.checkpoint,
        config=cfg,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    wall = time.time() - t0
    rows = sum(r.rows_in for r in results)
    print(json.dumps({
        "batches": len(results),
        "rows_in": rows,
        "events_applied": sum(r.events_applied for r in results),
        "sec": round(wall, 2),
        "events_per_sec": round(rows / wall, 1) if wall else None,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
