"""Incremental LSH index vs full batch recompute (BENCH evidence for the
O(changes) refresh contract, streaming/lsh_index.py).

Builds an N-doc transcript table, bootstraps the index, applies a small
change wave (frac of the corpus), then measures:

  * full batch ``lsh_candidate_pairs`` recompute wall-time (what a
    non-incremental pipeline pays per run), plus
  * incremental ``refresh`` wall-time for the wave (only changed docs are
    rehashed) and the index-derived ``candidate_pairs`` wall-time
    (narrow-column shuffles, zero shingle hashing).

Usage: python scripts/lsh_index_bench.py [n_docs] [wave_frac]
Prints one JSON line.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    frac = float(sys.argv[2]) if len(sys.argv) > 2 else 0.01

    import pandas as pd
    from pyspark.sql import functions as F

    from sfr_ingest_pipeline_spark.config import EngineConfig
    from sfr_ingest_pipeline_spark.functions.dedup import lsh_candidate_pairs
    from sfr_ingest_pipeline_spark.operators.merge import apply_batch
    from sfr_ingest_pipeline_spark.session import get_spark
    from sfr_ingest_pipeline_spark.streaming.lsh_index import (
        IncrementalLshIndex,
    )
    from sfr_ingest_pipeline_spark.table.transcript_table import (
        TranscriptTable,
    )

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    cfg = EngineConfig(compact_delta_files=8)
    work = tempfile.mkdtemp(prefix="lshbench-")
    root = f"{work}/t"
    TranscriptTable.create(root, n_buckets=cfg.n_buckets)

    # deterministic synthetic corpus with a few % exact dups and shared
    # vocabulary (md5-derived filler text, no RNG)
    base = spark.range(n_docs).select(
        F.concat(F.lit("conv"), (F.col("id") % (n_docs // 4)).cast("string"))
        .alias("conv_id"),
        (F.col("id") % 97).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.when(F.col("id") % 50 == 0, F.lit("common duplicate body " * 8))
        .otherwise(F.concat(
            F.lit("document body "),
            F.md5(F.col("id").cast("string")),
            F.lit(" shared tail of tokens for shingling "),
            F.md5((F.col("id") * 7).cast("string")),
        )).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_micros(F.lit(1_700_000_000_000_000)
                           + F.col("id")).alias("ts"),
        (F.col("id") + 1).alias("event_seq"),
    ).withColumn("op", F.lit("I"))
    # keys must be unique: (conv_id, turn_idx) from (id%(n/4), id%97) can
    # collide — dedup keeps it simple and the count honest
    base = base.dropDuplicates(["conv_id", "turn_idx"])
    apply_batch(spark, root, base, 0, config=cfg)
    corpus = TranscriptTable.load(root).scan(spark).count()

    idx = IncrementalLshIndex(f"{work}/lsh", root)
    t0 = time.time()
    r0 = idx.refresh(spark)
    bootstrap_sec = time.time() - t0

    # small change wave: frac of the corpus updated
    n_wave = max(1, int(corpus * frac))
    wave = TranscriptTable.load(root).scan(spark).limit(n_wave).select(
        F.lit("U").alias("op"), "conv_id", "turn_idx", "role",
        F.concat(F.lit("rewritten "), F.md5(F.col("text"))).alias("text"),
        "tool",
        (F.col("ts") + F.expr("interval 1 day")).alias("ts"),
        (F.abs(F.xxhash64("conv_id", "turn_idx")) % F.lit(10_000_000)
         + F.lit(100_000_000)).alias("event_seq"),
    )
    apply_batch(spark, root, wave, 1, config=cfg)
    t0 = time.time()
    r1 = idx.refresh(spark)
    refresh_sec = time.time() - t0
    t0 = time.time()
    n_pairs_idx = idx.candidate_pairs(spark).count()
    pairs_sec = time.time() - t0

    # full batch recompute on the SAME post-wave state (ground truth cost
    # per run, and the equality check)
    docs = TranscriptTable.load(root).scan(spark).select(
        F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string"))
        .alias("doc_id"), "text")
    t0 = time.time()
    n_pairs_batch = lsh_candidate_pairs(docs, "doc_id", "text").count()
    batch_sec = time.time() - t0

    out = {
        "metric": "lsh_index_refresh",
        "corpus_docs": corpus,
        "wave_docs": r1["docs_signed"],
        "bootstrap_sec": round(bootstrap_sec, 2),
        "batch_recompute_sec": round(batch_sec, 2),
        "incremental_refresh_sec": round(refresh_sec, 2),
        "index_pairs_sec": round(pairs_sec, 2),
        "speedup_refresh_vs_batch": round(batch_sec / refresh_sec, 1),
        "pairs_batch": n_pairs_batch,
        "pairs_index": n_pairs_idx,
        "pairs_equal": n_pairs_batch == n_pairs_idx,
        "bootstrap_mode": r0["mode"],
    }
    print(json.dumps(out))
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
