"""Read cost of a delta-free table against one holding MoR deltas.

Writes the same batches twice, once as "cow" (compact_delta_files=0: every
touched bucket compacted every batch, so the table stays delta-free) and
once as "mor" (deltas accumulate up to compact_delta_files=8), then times a full
logical scan and point reads on both. Every batch updates keys spread over
the whole keyspace, so each bucket collects deltas.

Usage: python scripts/cow_mor_read_bench.py [n_batches] [events_per_batch]
    [n_conversations] [reps]
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _timed(fn, reps: int) -> float:
    fn()  # warm-up
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def run_mode(spark, work: str, mode: str, segs: list[str], n_conv: int,
             reps: int) -> dict:
    from pyspark.sql import functions as F

    from sfr_ingest_pipeline_spark.config import EngineConfig
    from sfr_ingest_pipeline_spark.operators.merge import apply_batch
    from sfr_ingest_pipeline_spark.schema import CHANGE_EVENT_SCHEMA
    from sfr_ingest_pipeline_spark.table.transcript_table import TranscriptTable

    cfg = EngineConfig(shuffle_partitions=os.cpu_count() or 4,
                       compact_delta_files=0 if mode == "cow" else 8)
    root = os.path.join(work, mode)
    TranscriptTable.create(root, n_buckets=cfg.n_buckets)
    write_s = 0.0
    for i, seg in enumerate(segs):
        df = spark.read.schema(CHANGE_EVENT_SCHEMA).parquet(seg)
        t0 = time.perf_counter()
        apply_batch(spark, root, df, i, config=cfg)
        write_s += time.perf_counter() - t0
    table = TranscriptTable.load(root)

    def scan():
        table.scan(spark).agg(F.count("*"), F.sum(F.length("text"))).collect()

    convs = [f"conv-{(k * 7919) % n_conv:010d}" for k in range(10)]

    def points():
        for c in convs:
            table.read_conversation(spark, c).collect()

    return {
        "mode": mode,
        "write_s": round(write_s, 2),
        "files": len(table.files),
        "delta_files": sum(f.kind == "delta" for f in table.files),
        "scan_s": round(_timed(scan, reps), 3),
        "point_read_s": round(_timed(points, reps) / len(convs), 3),
    }


def main() -> int:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    events = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000
    n_conv = int(sys.argv[3]) if len(sys.argv) > 3 else 2_000
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 5

    from sfr_ingest_pipeline_spark.generator import fast_binlog
    from sfr_ingest_pipeline_spark.session import get_spark

    spark = get_spark(app_name="cow-mor-read-bench")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="cow_mor_reads_")
    try:
        segs = []
        for i in range(n_batches):
            seg = os.path.join(work, f"gen{i}")
            # later batches carry later ts, so they update earlier rows
            fast_binlog(seg, n_events=events, n_segments=1, seed=1000 + i,
                        n_conversations=n_conv, seq_offset=i * events * 10,
                        ts_offset_us=i * 10**12)
            segs.append(seg)
        for mode in ("cow", "mor"):
            print(json.dumps(run_mode(spark, work, mode, segs, n_conv, reps)),
                  flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
