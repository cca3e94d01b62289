"""Scale evidence for row-level DML: a point correction against a deep table
must cost O(matched keys) write amplification and prune its read to the
matched conversations' buckets + file ranges — never a table rewrite.

Protocol:
  1. bulk-replay N events into a MoR table (bench.py's replay config);
  2. recluster (range-split bucket files) so conv_id-range pruning has
     disjoint file envelopes to work with;
  3. point DELETE of K conversations via ``conv_ids`` — record
     files_read/files_pruned, delta rows/bytes written, wall time;
  4. predicate UPDATE over the whole table (no conv_ids — a full-scan
     correction) — record matched rows and that the write stays O(matched);
  5. verify: deleted convs gone, updated rows changed, untouched rows
     byte-identical (exceptAll both directions vs the pre-DML snapshot
     restricted to untouched keys — time travel supplies the pre-image).

Usage: python scripts/dml_bench.py [--events 20000000] [--convs 5]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _delta_bytes(root: str, snapshot_id: int) -> int:
    pat = os.path.join(root, "data", f"dml-{snapshot_id:08d}-*", "**", "*.parquet")
    return sum(os.path.getsize(p) for p in glob.glob(pat, recursive=True))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=20_000_000)
    ap.add_argument("--convs", type=int, default=5,
                    help="conversations hit by the point DELETE")
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from sfr_ingest_pipeline_spark.config import EngineConfig
    from sfr_ingest_pipeline_spark.generator import fast_binlog
    from sfr_ingest_pipeline_spark.session import get_spark
    from sfr_ingest_pipeline_spark.streaming.replay import replay_stream
    from sfr_ingest_pipeline_spark.table.dml import delete_where, update_where
    from sfr_ingest_pipeline_spark.table.maintenance import recluster
    from sfr_ingest_pipeline_spark.table.transcript_table import TranscriptTable

    base = ("/dev/shm/spark_graft_bench" if os.path.isdir("/dev/shm")
            else tempfile.gettempdir())
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="dml_bench_", dir=base)
    n_conversations = max(200, args.events // 50)
    cfg = EngineConfig(n_buckets=32, n_salt=1,
                       shuffle_partitions=int(args.cpus),
                       compact_delta_files=1)
    spark = get_spark(
        master=f"local[{args.cpus}]", app_name="dml_bench",
        extra_confs={"spark.local.dir": os.path.join(base, "spark-local"),
                     "spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    out: dict = {"events": args.events, "n_conversations": n_conversations}
    try:
        binlog = os.path.join(work, "binlog")
        fast_binlog(binlog, n_events=args.events, n_segments=16,
                    n_conversations=n_conversations, zipf_s=1.05)
        root = os.path.join(work, "table")
        t0 = time.time()
        replay_stream(spark, binlog, root, os.path.join(work, "ckpt"),
                      config=cfg, max_files_per_trigger=2)
        out["replay_sec"] = round(time.time() - t0, 2)
        t0 = time.time()
        recluster(spark, root, config=cfg, files_per_bucket=8)
        out["recluster_sec"] = round(time.time() - t0, 2)

        t = TranscriptTable.load(root)
        pre_sid = t.snapshot.snapshot_id
        out["table_rows"] = sum(f.live_rows for f in t.files)
        out["table_files"] = len(t.files)

        # deterministic mid-range conv ids, read from manifest file stats
        # (no scan, no format assumption about the generator's id scheme)
        mins = sorted({f.conv_id_min for f in t.files if f.conv_id_min})
        mid = len(mins) // 2
        victims = mins[mid:mid + args.convs]

        # ---- point DELETE with manifest pruning -------------------------
        t0 = time.time()
        dres = delete_where(spark, root, "true", conv_ids=victims, config=cfg)
        out["delete"] = dres.to_json()
        out["delete"]["sec"] = round(time.time() - t0, 2)
        out["delete"]["delta_bytes"] = _delta_bytes(root, dres.snapshot_id)

        # ---- predicate UPDATE, full-scan form ---------------------------
        t0 = time.time()
        ures = update_where(
            spark, root, "role = 'tool' and turn_idx % 50 = 0",
            {"text": "concat('[redacted] ', text)"}, config=cfg,
        )
        out["update"] = ures.to_json()
        out["update"]["sec"] = round(time.time() - t0, 2)
        out["update"]["delta_bytes"] = _delta_bytes(root, ures.snapshot_id)

        # ---- verify ------------------------------------------------------
        t0 = time.time()
        now = TranscriptTable.load(root)
        live = now.scan(spark)
        assert live.filter(F.col("conv_id").isin(victims)).count() == 0
        n_upd = live.filter("text like '[redacted] %'").count()
        assert n_upd == ures.rows_matched, (n_upd, ures.rows_matched)
        # untouched keys byte-identical vs the pre-DML snapshot (time travel)
        pre = TranscriptTable.load(root, pre_sid).scan(spark)
        untouched_pred = (
            ~F.col("conv_id").isin(victims)
            & ~((F.col("role") == "tool") & (F.col("turn_idx") % 50 == 0))
        )
        a = live.filter(untouched_pred)
        b = pre.filter(untouched_pred)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
        out["verify_sec"] = round(time.time() - t0, 2)
        out["verify"] = "exact"
        print(json.dumps(out))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
