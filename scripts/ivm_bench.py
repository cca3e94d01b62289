"""Scale evidence for incremental view maintenance: a delta refresh over a
small changed slice must cost O(changes), not O(table).

Protocol (mirrors bench.py's replay config):
  1. replay WAVE 1 (bulk build, default 8M events) into a MoR table;
  2. bootstrap the rollup view (this IS the full-recompute cost — the
     number a non-incremental consumer pays on EVERY refresh);
  3. replay WAVE 2 — a conv-localized update wave (default 400k events
     over the first 5% of conversations, later timestamps);
  4. delta-refresh the view; report both wall times, the ratio, and the
     refresh counters (groups touched, recompute fallbacks);
  5. verify: view.read() equals the shared rollup over the full table
     scan, exceptAll in both directions.

Usage: python scripts/ivm_bench.py [--events 8000000] [--wave2 400000]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=8_000_000)
    ap.add_argument("--wave2", type=int, default=400_000)
    ap.add_argument("--wave2-conv-frac", type=float, default=0.05)
    ap.add_argument("--wave2-conv-offset", type=int, default=0,
                    help="first conv id of the wave-2 band (e.g. point it at "
                         "the cold Zipf tail)")
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    args = ap.parse_args()

    from sfr_ingest_pipeline_spark.config import EngineConfig
    from sfr_ingest_pipeline_spark.generator import fast_binlog
    from sfr_ingest_pipeline_spark.session import get_spark
    from sfr_ingest_pipeline_spark.streaming.incremental import (
        IncrementalAggView,
        _rollup,
    )
    from sfr_ingest_pipeline_spark.streaming.replay import replay_stream
    from sfr_ingest_pipeline_spark.table.transcript_table import TranscriptTable

    base = "/dev/shm/spark_graft_bench" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="ivm_bench_", dir=base)
    n_conversations = max(200, args.events // 50)
    cfg = EngineConfig(n_buckets=32, n_salt=1,
                       shuffle_partitions=int(args.cpus),
                       compact_delta_files=1)
    spark = get_spark(
        master=f"local[{args.cpus}]", app_name="ivm_bench",
        extra_confs={"spark.local.dir": os.path.join(base, "spark-local")},
    )
    spark.sparkContext.setLogLevel("ERROR")

    out: dict = {"events_wave1": args.events, "events_wave2": args.wave2,
                 "n_conversations": n_conversations}
    try:
        # ---- wave 1: bulk build ----------------------------------------
        b1 = os.path.join(work, "binlog1")
        fast_binlog(b1, n_events=args.events, n_segments=16,
                    n_conversations=n_conversations, zipf_s=1.05)
        table_root = os.path.join(work, "table")
        t0 = time.time()
        replay_stream(spark, b1, table_root, os.path.join(work, "ckpt1"),
                      config=cfg, max_files_per_trigger=2)
        out["wave1_replay_sec"] = round(time.time() - t0, 2)

        # range-split the bucket files (disjoint per-file conv_id ranges) so
        # the changelog scan's added-file envelope can prune state files —
        # the read-side payoff recluster exists for
        from sfr_ingest_pipeline_spark.table.maintenance import recluster
        t0 = time.time()
        recluster(spark, table_root, config=cfg, files_per_bucket=8)
        out["recluster_sec"] = round(time.time() - t0, 2)

        # ---- bootstrap == full recompute cost --------------------------
        view = IncrementalAggView(os.path.join(work, "view"), table_root)
        t0 = time.time()
        r = view.refresh(spark)
        out["bootstrap_sec"] = round(time.time() - t0, 2)
        out["bootstrap_groups"] = r["groups"]

        # ---- wave 2: conv-localized update wave ------------------------
        # same binlog dir + same checkpoint (the two-wave protocol of
        # BENCH/SCALE.md): wave-2 segments land under offset names, the
        # resumed stream drains only them, batch ids continue
        b2 = os.path.join(work, "binlog2")
        fast_binlog(b2, n_events=args.wave2, n_segments=2,
                    n_conversations=max(1, int(n_conversations * args.wave2_conv_frac)),
                    conv_offset=args.wave2_conv_offset,
                    seed=77, seq_offset=args.events * 4,
                    ts_offset_us=10**12)
        for i, name in enumerate(sorted(os.listdir(b2))):
            os.replace(os.path.join(b2, name),
                       os.path.join(b1, f"segment-{9000 + i:06d}.parquet"))
        t0 = time.time()
        replay_stream(spark, b1, table_root, os.path.join(work, "ckpt1"),
                      config=cfg)
        out["wave2_replay_sec"] = round(time.time() - t0, 2)

        # ---- changelog pruning telemetry (metadata only) ---------------
        from sfr_ingest_pipeline_spark.table.transcript_table import (
            changelog_candidate_files,
            changelog_state_files,
        )
        last = view.last_refreshed_snapshot()
        t_new = TranscriptTable.load(table_root)
        t_old = TranscriptTable.load(table_root, last)
        added = changelog_candidate_files(table_root, t_old, t_new)
        touched = {f.bucket for f in added}
        out["changelog_added_files"] = len(added)
        out["state_files_in_touched_buckets"] = (
            len(t_old.files_in_buckets(touched))
            + len(t_new.files_in_buckets(touched))
        )
        out["state_files_read"] = (
            len(changelog_state_files(t_old, added, t_new))
            + len(changelog_state_files(t_new, added, t_new))
        )

        # ---- delta refresh ---------------------------------------------
        t0 = time.time()
        r = view.refresh(spark)
        out["delta_refresh_sec"] = round(time.time() - t0, 2)
        out["delta_groups"] = r["groups"]
        out["recomputed_groups"] = r["recomputed_groups"]

        # ---- the alternative a non-incremental consumer pays -----------
        t0 = time.time()
        _rollup(TranscriptTable.load(table_root).scan(spark)) \
            .write.format("noop").mode("overwrite").save()
        out["full_recompute_sec"] = round(time.time() - t0, 2)
        out["refresh_speedup_vs_full"] = round(
            out["full_recompute_sec"] / out["delta_refresh_sec"], 2)

        # ---- verify ----------------------------------------------------
        t = TranscriptTable.load(table_root)
        expect = _rollup(t.scan(spark))
        got = view.read(spark)
        missing = expect.exceptAll(got).count()
        unexpected = got.exceptAll(expect).count()
        out["verify_missing"] = missing
        out["verify_unexpected"] = unexpected
        out["ok"] = missing == 0 and unexpected == 0
        print(json.dumps(out))
        return 0 if out["ok"] else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
