"""Minor vs full compaction at the same table state: cost (wall, bytes
written) and read-path effect (resolved-scan latency, files/bucket).

Builds a MoR table with a deep delta stack (replay with in-run compaction
disabled), clones it, then runs compact_minor on one copy and full
compact on the other. The claim to verify: minor costs O(delta bytes)
while full costs O(table bytes), at the same post-maintenance scan shape
for the read path that matters day-to-day (delta stack collapsed to 1).

Usage: python scripts/minor_compact_bench.py [n_events] [n_segments]
Prints one JSON line; paste into BENCH/SCALE.md.
"""
from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time


def dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(root, "data", "**", "*.parquet"),
                           recursive=True)
    )


def scan_sec(spark, root: str) -> float:
    from sfr_ingest_pipeline_spark.table.transcript_table import TranscriptTable

    t0 = time.time()
    TranscriptTable.load(root).scan(spark).agg({"turn_idx": "sum"}).collect()
    return round(time.time() - t0, 2)


def main() -> int:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    n_segments = int(sys.argv[2]) if len(sys.argv) > 2 else 16

    from sfr_ingest_pipeline_spark.config import EngineConfig
    from sfr_ingest_pipeline_spark.generator import fast_binlog
    from sfr_ingest_pipeline_spark.session import get_spark
    from sfr_ingest_pipeline_spark.streaming.replay import replay_stream
    from sfr_ingest_pipeline_spark.table.maintenance import compact, compact_minor
    from sfr_ingest_pipeline_spark.table.transcript_table import TranscriptTable

    base = "/dev/shm/spark_graft_minor" if os.path.isdir("/dev/shm") else "/tmp/spark_graft_minor"
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    spark = get_spark(master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    spark.sparkContext.setLogLevel("ERROR")

    # The steady-state shape minor compaction exists for: a LARGE compacted
    # base plus a SMALL recent delta wave. Built in two stages — bulk load
    # then full compact (the bases), then a 25%-sized update wave over the
    # same conversation universe left as deltas.
    n_convs = max(1000, n_events // 60)
    bulk = int(n_events * 0.75)
    blg1 = os.path.join(base, "binlog1")
    fast_binlog(blg1, bulk, n_segments=n_segments,
                n_conversations=n_convs, seed=5, zipf_s=1.05)
    blg2 = os.path.join(base, "binlog2")
    fast_binlog(blg2, n_events - bulk, n_segments=max(4, n_segments // 4),
                n_conversations=n_convs, seed=6, zipf_s=1.05)
    cfg = EngineConfig(compact_delta_files=10**9, n_buckets=32)
    ta = os.path.join(base, "ta")
    ckpt = os.path.join(base, "ckpt")
    replay_stream(spark, blg1, ta, ckpt,
                  config=cfg, max_files_per_trigger=max(1, n_segments // 4))
    compact(spark, ta, config=cfg)  # the bases
    # wave 2 lands as NEW files in the same tailed dir (resume the same
    # checkpoint — two fresh checkpoints would collide on batch ids)
    for i, fn in enumerate(sorted(os.listdir(blg2))):
        if fn.endswith(".parquet"):
            os.link(os.path.join(blg2, fn),
                    os.path.join(blg1, f"segment-9{i:05d}.parquet"))
    replay_stream(spark, blg1, ta, ckpt, config=cfg,
                  max_files_per_trigger=1)
    tb = os.path.join(base, "tb")
    shutil.copytree(ta, tb)

    t = TranscriptTable.load(ta)
    deltas = sum(t.delta_file_counts().values())
    out = {
        "metric": "minor_vs_full_compaction",
        "events": n_events,
        "delta_files_before": deltas,
        "table_bytes_before": dir_bytes(ta),
        "scan_sec_before": scan_sec(spark, ta),
    }

    b0 = dir_bytes(ta)
    t0 = time.time()
    compact_minor(spark, ta, config=cfg, min_delta_files=2)
    out["minor"] = {
        "sec": round(time.time() - t0, 2),
        "bytes_written": dir_bytes(ta) - b0,   # new files add; expire GCs old
        "delta_files_after": sum(TranscriptTable.load(ta).delta_file_counts().values()),
        "scan_sec_after": scan_sec(spark, ta),
    }

    b0 = dir_bytes(tb)
    t0 = time.time()
    compact(spark, tb, config=cfg)
    out["full"] = {
        "sec": round(time.time() - t0, 2),
        "bytes_written": dir_bytes(tb) - b0,
        "delta_files_after": sum(TranscriptTable.load(tb).delta_file_counts().values()),
        "scan_sec_after": scan_sec(spark, tb),
    }

    # exactness: both maintenance paths read identically
    from pyspark.sql import functions as F
    da = TranscriptTable.load(ta).scan(spark)
    db = TranscriptTable.load(tb).scan(spark)
    out["states_equal"] = (
        da.exceptAll(db).limit(1).count() == 0
        and db.exceptAll(da).limit(1).count() == 0
    )
    print(json.dumps(out))
    shutil.rmtree(base, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
