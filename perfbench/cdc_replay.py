"""The ``cdc_replay`` workload: bulk replay, then point corrections beside reads.

Bulk phase (timed): ``BULK_REPLAYS`` ``availableNow`` ``replay_stream`` calls
each replay one seeded bulk segment into a fresh table. The figure is summed
``rows_in`` (redeliveries included) over summed replay wall time.
``BULK_WARMUP_REPLAYS`` replays of the same segment into scratch tables in
set-up are the warm-up.

Point phase (timed, the rest of the run's seconds, at least
``MIN_ROUND_TRIPS``): one long-running ``replay_stream`` query starts on a
binlog directory holding a smaller seeded segment; its first batch preloads
the table. ``POINT_WARMUP_ROUND_TRIPS`` untimed round trips then warm the
point path, after the bulk phase has warmed the shared code. Then one client
alternates: it lands a correction segment (a few
thousand events over a few dozen adjacent conversations) in the stream's
binlog directory, waits until the commit is visible through
``TranscriptTable.load``, then reads one touched and one untouched
conversation with ``read_conversation(...).collect()``. The next segment
lands only after those reads, and a round trip starts only if it is expected
to end inside the window (``stats.another_fits``). The figure is the p50
round trip.

Both timed phases start with a full GC.

The correctness gate (outside the timed windows) checks every replay's
summed ``rows_in`` against the generated event count and runs
``verify_against_binlog`` on the point table, whose binlog holds the
preloaded segment and every correction landed, warm-up ones included.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench import stats
from perfbench.host import fresh_dir, nproc, quiesce
from perfbench.trace import (
    ProgressCollector, StatusStore, Tracer, instrument, phase_of, self_times, total,
)

# Inputs: seeded fast_binlog segments (events plus exact redeliveries),
# Zipf-skewed over events / EVENTS_PER_CONVERSATION conversations: the bulk
# batch, and a smaller one that preloads the point table (its size sets the
# cost of the verify_against_binlog gate, not the per-batch cost measured)
BULK_EVENTS = 100_000
POINT_EVENTS = 10_000
EVENTS_PER_CONVERSATION = 50
ZIPF_S = 1.05
DUPLICATE_RATIO = 0.05
DELETE_RATIO = 0.03
TEXT_CHARS = 400
# corrections stay below EngineConfig.bloom_probe_rows (5000), so the point
# path prunes target files by key range and bloom filter
CORRECTION_EVENTS = 3_000
CORRECTION_CONVERSATIONS = 30
NORMALIZE_SAMPLE_ROWS = 5_000

# Engine settings of the frozen bench: MoR, 32 buckets, no salting. Bulk
# replays compact every batch; the point phase keeps the default 8, so each
# correction appends delta files that reads must merge (a run's handful of
# corrections leaves every bucket below 8, so no compaction is timed)
N_BUCKETS = 32
N_SALT = 1
BLOOM_FPP = 0.01
BULK_COMPACT_DELTA_FILES = 1
POINT_COMPACT_DELTA_FILES = 8

# Warm-up and timing. The second replay of a session still ran 20-45% slower
# than later ones on a 4-core host, so two replays warm up before
# BULK_REPLAYS timed ones. The point phase runs the rest of the run's
# seconds, at least MIN_ROUND_TRIPS
BULK_WARMUP_REPLAYS = 2
BULK_REPLAYS = 2
POINT_WARMUP_ROUND_TRIPS = 1
MIN_ROUND_TRIPS = 3

# fast_binlog's event clock: base + cumulative steps of < 1000 µs per event
_TS_STEP_MAX_US = 1000


def _engine_config(compact_delta_files: int):
    from sfr_ingest_pipeline_spark.config import EngineConfig

    return EngineConfig(
        n_buckets=N_BUCKETS, n_salt=N_SALT, shuffle_partitions=nproc(),
        merge_mode="mor", compact_delta_files=compact_delta_files,
        file_bloom_fpp=BLOOM_FPP,
    )


def _bulk_replay(spark, binlog, root, cfg, tracer):
    from sfr_ingest_pipeline_spark.streaming.replay import replay_stream

    t0 = time.perf_counter()
    with tracer.span("stream.replay_stream", op_id=os.path.basename(root)):
        res = replay_stream(
            spark, binlog, os.path.join(root, "table"), os.path.join(root, "ckpt"),
            config=cfg,
        )
    return res, time.perf_counter() - t0


# --------------------------------------------------------------- point phase

class _Stream:
    """One long-running replay_stream query on a background thread."""

    def __init__(self, spark, binlog, root, cfg, tracer):
        from sfr_ingest_pipeline_spark.streaming.replay import replay_stream

        self.spark = spark
        self.committed: list = []
        self.cond = threading.Condition()
        self.error: BaseException | None = None

        def on_batch(res):
            with self.cond:
                self.committed.append(res)
                self.cond.notify_all()

        def run():
            try:
                with tracer.span("stream.replay_stream", op_id="point"):
                    replay_stream(
                        spark, binlog, os.path.join(root, "table"),
                        os.path.join(root, "ckpt"), config=cfg,
                        available_now=False, on_batch=on_batch,
                    )
            except BaseException as e:  # noqa: BLE001 - surfaced to the client
                self.error = e
            with self.cond:
                self.cond.notify_all()

        self.thread = threading.Thread(target=run, name="point-stream", daemon=True)
        self.thread.start()

    def wait_batches(self, n: int, timeout: float) -> bool:
        deadline = time.monotonic() + timeout
        with self.cond:
            while len(self.committed) < n and self.error is None:
                left = deadline - time.monotonic()
                if left <= 0:
                    return False
                self.cond.wait(left)
        return self.error is None

    def stop(self) -> None:
        deadline = time.monotonic() + 60
        while self.thread.is_alive() and time.monotonic() < deadline:
            for q in self.spark.streams.active:
                if q.name == "cdc-replay":
                    q.stop()
            self.thread.join(0.5)


class _Corrections:
    """Seeded correction segments: adjacent conversations, later than every
    event already in the binlog."""

    def __init__(self, seed: int, n_events: int, n_convs: int, staging: str):
        self.seed = seed
        self.rng = np.random.default_rng(seed + 7_919)
        self.next_seq = n_events * 2  # above every preloaded event_seq
        self.next_ts = n_events * _TS_STEP_MAX_US * 2
        self.n_convs = n_convs
        self.staging = staging
        self.count = 0

    def make(self) -> tuple[str, int, list[str]]:
        """Write one segment to staging; returns (path, rows, conv ids)."""
        from sfr_ingest_pipeline_spark.generator import fast_binlog

        first = int(self.rng.integers(0, self.n_convs - CORRECTION_CONVERSATIONS))
        out = fresh_dir(os.path.join(self.staging, f"c{self.count}"))
        rows = fast_binlog(
            out, n_events=CORRECTION_EVENTS, n_segments=1,
            n_conversations=CORRECTION_CONVERSATIONS, conv_offset=first,
            seed=self.seed * 1_000 + self.count, seq_offset=self.next_seq,
            ts_offset_us=self.next_ts, text_chars=TEXT_CHARS,
        )
        self.next_seq += rows
        self.next_ts += rows * _TS_STEP_MAX_US
        self.count += 1
        convs = [f"conv-{first + c:010d}" for c in range(CORRECTION_CONVERSATIONS)]
        return os.path.join(out, "segment-000000.parquet"), rows, convs


class _Client:
    """The point phase's one client (closed loop)."""

    def __init__(self, spark, stream, corr, binlog, table_root, rng, tracer, ops,
                 trace_reads: bool):
        self.spark, self.stream, self.corr = spark, stream, corr
        self.binlog, self.table_root, self.rng = binlog, table_root, rng
        self.tracer, self.ops, self.trace_reads = tracer, ops, trace_reads
        self.landed = 0
        self.rows = 0
        # batches the stream committed before the first correction
        self.base = len(stream.committed)

    def round_trip(self) -> dict | None:
        """Land one correction, wait until it is visible, read one touched
        and one untouched conversation. Returns the round trip's samples, or
        None when the stream is gone (counted as failed)."""
        from sfr_ingest_pipeline_spark.table.transcript_table import TranscriptTable

        i, tracer, ops = self.landed, self.tracer, self.ops
        with tracer.span("gen.correction", op_id=i):
            seg, rows, convs = self.corr.make()
        out = {"read": [], "read_plan": [], "read_exec": [], "read_files": []}
        with tracer.span("point.segment", op_id=i):
            t_land = time.perf_counter()
            os.replace(seg, os.path.join(self.binlog, f"correction-{i:06d}.parquet"))
            self.landed += 1
            self.rows += rows
            if not self.stream.wait_batches(self.base + self.landed, timeout=120):
                ops.fail(f"correction {i}: no commit ({self.stream.error!r})")
                return None
            res = self.stream.committed[self.base + i]
            t_seen = time.perf_counter()
            table = TranscriptTable.load(self.table_root)
            t_visible = time.perf_counter()
            if table.last_batch_id is None or table.last_batch_id < res.batch_id:
                ops.fail(f"correction {i}: batch {res.batch_id} not visible")
            elif res.rows_in != rows:
                ops.fail(f"correction {i}: rows_in {res.rows_in} != {rows}")
            else:
                ops.ok()
            untouched = convs[0]
            while untouched in convs:
                untouched = f"conv-{int(self.rng.integers(0, self.corr.n_convs)):010d}"
            for j, conv in enumerate((str(self.rng.choice(convs)), untouched)):
                with tracer.span("read.read_conversation", op_id=f"{i}.{j}"):
                    t0 = time.perf_counter()
                    try:
                        df = table.read_conversation(self.spark, conv)
                        t1 = time.perf_counter()
                        if self.trace_reads:
                            out["read_files"].append(len(df.inputFiles()))
                        t2 = time.perf_counter()
                        df.collect()
                        t3 = time.perf_counter()
                        ops.ok()
                    except Exception as e:  # noqa: BLE001 - counted as failed read
                        ops.fail(f"read {conv}: {e!r}")
                        continue
                out["read"].append((t1 - t0) + (t3 - t2))
                out["read_plan"].append(t1 - t0)
                out["read_exec"].append(t3 - t2)
            t_done = time.perf_counter()
        out.update(commit=t_visible - t_land, round_trip=t_done - t_land, land=t_land,
                   visible_check=t_visible - t_seen, rows=rows)
        return out


def _point_loop(client, seconds) -> list[dict]:
    """Round trips for ``seconds`` (at least MIN_ROUND_TRIPS)."""
    samples = []
    deadline = time.perf_counter() + seconds
    while True:
        s = client.round_trip()
        if s is None:
            break
        samples.append(s)
        if len(samples) >= MIN_ROUND_TRIPS and \
                not stats.another_fits(deadline, s["round_trip"]):
            break
    return samples


# ------------------------------------------------------------------ workload

def run(spark, ctx) -> dict:
    from sfr_ingest_pipeline_spark.functions.normalize import normalize_text_pandas
    from sfr_ingest_pipeline_spark.generator import fast_binlog
    from sfr_ingest_pipeline_spark.table.maintenance import verify_against_binlog
    from sfr_ingest_pipeline_spark.table.transcript_table import TranscriptTable

    seed, work = ctx.seed, ctx.work
    ops = stats.Ops()
    report: dict = {"setup": {}}
    setup = report["setup"]
    bulk_cfg = _engine_config(BULK_COMPACT_DELTA_FILES)
    point_cfg = _engine_config(POINT_COMPACT_DELTA_FILES)
    rng = np.random.default_rng(seed)

    # ---- setup: input generation ------------------------------------------
    binlog = os.path.join(work, "binlog")
    point_binlog = os.path.join(work, "point_binlog")
    point_convs = POINT_EVENTS // EVENTS_PER_CONVERSATION
    t0 = time.perf_counter()
    generated = {}
    for d, n, sd in ((binlog, BULK_EVENTS, seed), (point_binlog, POINT_EVENTS, seed + 1)):
        generated[d] = fast_binlog(
            d, n_events=n, n_segments=1, n_conversations=n // EVENTS_PER_CONVERSATION,
            seed=sd, zipf_s=ZIPF_S, delete_ratio=DELETE_RATIO,
            duplicate_ratio=DUPLICATE_RATIO, text_chars=TEXT_CHARS,
        )
    setup["gen_s"] = time.perf_counter() - t0
    report["input"] = {
        "bulk_rows": generated[binlog], "point_preload_rows": generated[point_binlog],
        "events_per_conversation": EVENTS_PER_CONVERSATION, "zipf_s": ZIPF_S,
        "duplicate_ratio": DUPLICATE_RATIO, "delete_ratio": DELETE_RATIO,
        "text_chars": TEXT_CHARS, "correction_events": CORRECTION_EVENTS,
        "correction_conversations": CORRECTION_CONVERSATIONS,
        "bulk_warmup_replays": BULK_WARMUP_REPLAYS, "bulk_replays": BULK_REPLAYS,
        "point_warmup_round_trips": POINT_WARMUP_ROUND_TRIPS,
    }

    # ---- setup: warm-up replays with the timed replays' shape -------------
    t0 = time.perf_counter()
    rows_in = {}
    for k in range(BULK_WARMUP_REPLAYS):
        try:
            res, _ = _bulk_replay(spark, binlog, os.path.join(work, f"warm{k}"), bulk_cfg,
                                  Tracer(False))
            rows_in[f"warm{k}"] = sum(r.rows_in for r in res)
        except Exception as e:  # noqa: BLE001 - counted as a failed batch
            ops.fail(f"warm-up replay {k}: {e!r}")
    setup["bulk_warmup_s"] = time.perf_counter() - t0

    # ---- normalize layer probe (a fixed sample of this workload's texts) ---
    (segment,) = [f for f in os.listdir(binlog) if f.endswith(".parquet")]
    sample = pq.read_table(os.path.join(binlog, segment), columns=["text"]).column("text")
    sample = sample.slice(0, NORMALIZE_SAMPLE_ROWS).to_pandas()
    sample = sample[sample.notna()]
    norm_s = []
    for _ in range(3):
        t0 = time.perf_counter()
        normalize_text_pandas(sample)
        norm_s.append(time.perf_counter() - t0)
    report["normalize"] = {
        "rows_per_s": len(sample) / stats.median(norm_s),
        "ascii_share": float(sample.map(str.isascii).mean()),
    }

    traced = ctx.trace
    tracer = Tracer(enabled=traced)
    store = StatusStore(spark) if traced else None
    progress = ProgressCollector(tracer) if traced else None
    if progress is not None:
        spark.streams.addListener(progress)

    # ---- timed phase 1: bulk replays ---------------------------------------
    walls, bulk = [], []
    quiesce(spark)
    mark = store.mark() if store else None
    tb0 = time.perf_counter()
    with instrument(tracer):
        for k in range(BULK_REPLAYS):
            try:
                res, wall = _bulk_replay(spark, binlog, os.path.join(work, f"bulk{k}"),
                                         bulk_cfg, tracer)
            except Exception as e:  # noqa: BLE001 - counted as a failed batch
                ops.fail(f"bulk replay {k}: {e!r}")
                break
            ops.ok(len(res))
            bulk += res
            walls.append(wall)
            rows_in[f"bulk{k}"] = sum(r.rows_in for r in res)
    tb1 = time.perf_counter()
    bulk_stage = store.merge_metrics(mark) if store else None
    bulk_progress = []
    if progress is not None:
        progress.wait_for(len(bulk))
        bulk_progress = progress.data_batches()

    # ---- setup: the stream's first batch preloads the point table ---------
    point, point_stage, point_progress = [], None, []
    point_root = os.path.join(work, "point")
    table_root = os.path.join(point_root, "table")
    t0 = time.perf_counter()
    stream = _Stream(spark, point_binlog, point_root, point_cfg, tracer)
    if stream.wait_batches(1, timeout=120):
        rows_in["point_preload"] = stream.committed[0].rows_in
    else:
        ops.fail(f"point table preload: {stream.error!r}")
        stream.stop()
        table_root = None
    tp0 = tp1 = time.perf_counter()
    if table_root is not None:
        corr = _Corrections(seed, POINT_EVENTS, point_convs, os.path.join(work, "staging"))
        client = _Client(spark, stream, corr, point_binlog, table_root, rng, tracer, ops,
                         traced)
        for _ in range(POINT_WARMUP_ROUND_TRIPS):
            client.round_trip()
        setup["point_warmup_s"] = time.perf_counter() - t0

        # ---- timed phase 2: point corrections beside reads -----------------
        if progress is not None:
            progress.wait_for(len(bulk_progress) + len(stream.committed))
        n0 = len(progress.data_batches()) if progress else 0
        quiesce(spark)
        mark = store.mark() if store else None
        tp0 = time.perf_counter()
        with instrument(tracer):
            point = _point_loop(client, ctx.seconds - (tb1 - tb0))
        tp1 = time.perf_counter()
        stream.stop()
        point_stage = store.merge_metrics(mark) if store else None
        if progress is not None:
            progress.wait_for(n0 + len(point))
            point_progress = progress.data_batches()[n0:n0 + len(point)]
    if progress is not None:
        spark.streams.removeListener(progress)
    report["phase_s"] = {"bulk": tb1 - tb0, "point": tp1 - tp0}

    # ---- correctness gate (untimed) ----------------------------------------
    t_check = time.perf_counter()
    check = {"rows_in": rows_in, "generated": list(generated.values())}
    for k, r in rows_in.items():
        want = generated[point_binlog if k == "point_preload" else binlog]
        if r == want:
            ops.ok()
        else:
            ops.fail(f"replay {k}: rows_in {r} != generated {want}")
    if table_root is not None:
        try:
            v = verify_against_binlog(spark, table_root, point_binlog, config=point_cfg)
            check["verify"] = {k: v[k] for k in ("ok", "missing_in_table",
                                                 "unexpected_in_table", "rows_expected")}
            if v["ok"] and v["missing_in_table"] == 0 and v["unexpected_in_table"] == 0:
                ops.ok()
            else:
                ops.fail(f"verify_against_binlog: {check['verify']}")
        except Exception as e:  # noqa: BLE001
            ops.fail(f"verify_against_binlog raised {e!r}")
        files = TranscriptTable.load(table_root).files
        check["table_files"] = len(files)
        check["table_delta_files"] = sum(1 for f in files if f.kind == "delta")
        check["table_mb"] = sum(
            os.path.getsize(os.path.join(table_root, f.path)) for f in files) / 1e6
        check["correction_rows"] = client.rows
    check["check_s"] = time.perf_counter() - t_check
    report["correctness"] = check

    # ---- metrics ------------------------------------------------------------
    report["bulk"] = {
        "events_per_s": sum(r.rows_in for r in bulk) / sum(walls) if walls else None,
        "replay_wall_s": walls, "batches": len(bulk),
    }
    if point:
        report["point"] = {
            "round_trips": len(point),
            "commit_latency": stats.summary([s["commit"] for s in point]),
            "round_trip": stats.summary([s["round_trip"] for s in point]),
            "read_latency": stats.summary([r for s in point for r in s["read"]]),
        }
    e2e = {
        "throughput_per_s": report["bulk"]["events_per_s"],
        "latency_s": report["point"]["round_trip"]["p50"] if point else None,
    }
    layers = None
    if traced:
        layers = _layers(report, tracer, (tb0, tb1), (tp0, tp1) if point else None,
                         bulk_stage, point_stage, bulk_progress, point_progress, point, e2e)
        report["layer_self_s"] = self_times(tracer.window(tb0, tp1))
        report["status_store"] = (
            "available" if store.available else f"unavailable: {store.reason}")
    return {"ops": ops, "report": report, "e2e": e2e, "layers": layers, "tracer": tracer}


# -------------------------------------------------------------- layer metrics

_STREAM_KEYS = {
    "latest_offset_ms": "latestOffset",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "query_planning_ms": "queryPlanning",
}


def _merge_layer(spans: list[dict], stage: dict | None, tracer: Tracer, prefix: str,
                 out: dict) -> float:
    """Fill ``<prefix>merge.*`` and ``<prefix>table.*``; returns unattributed s."""
    applies = [s for s in spans if s["name"] == "merge.apply_batch"]
    harvest = [s for s in spans if s["name"] == "table.harvest_files"]
    durs = [s["end"] - s["start"] for s in applies]
    compact_ids = {h["parent"] for h in harvest if h.get("base_files", 0) > 0}
    comp = [s["end"] - s["start"] for s in applies if s["id"] in compact_ids]
    delta = [s["end"] - s["start"] for s in applies if s["id"] not in compact_ids]
    apply_s = sum(durs)
    # table-layer calls made inside apply_batch only
    inside = {a["id"] for a in applies}
    table_s = {
        name: sum(s["end"] - s["start"] for s in spans
                  if s["name"] == f"table.{name}" and s["parent"] in inside)
        for name in ("load", "harvest_files", "commit", "target_plan")
    }
    read = sum(a.get("files_read", 0) for a in applies)
    pruned = sum(a.get("files_pruned", 0) for a in applies)
    m = {
        "apply_s": apply_s,
        "apply_p50_s": stats.median(durs) if durs else 0.0,
        "compact_apply_p50_s": stats.median(comp) if comp else 0.0,
        "delta_apply_p50_s": stats.median(delta) if delta else 0.0,
        "rows_in": sum(a.get("rows_in", 0) for a in applies),
        "events_applied": sum(a.get("events_applied", 0) for a in applies),
        "dedup_dropped": sum(a.get("dedup_dropped", 0) for a in applies),
        "merge_conflicts": sum(a.get("merge_conflicts", 0) for a in applies),
        "files_read": read,
        "files_pruned": pruned,
        "prune_ratio": pruned / (read + pruned) if read + pruned else 0.0,
    }
    unattributed = apply_s - sum(table_s.values())
    if stage is not None:
        # SQL executions (planning + jobs) clipped to the apply_batch spans
        phase = {"discovery": 0.0, "merge_write": 0.0, "other_sql": 0.0}
        for e in stage["executions"]:
            a, b = tracer.rel(e["start"]), tracer.rel(e["end"])
            name = phase_of(e["description"])
            for sp in applies:
                # the streaming batch's own execution encloses apply_batch;
                # only executions started inside it are apply_batch's
                if a < sp["start"] - 0.002:
                    continue
                overlap = min(b, sp["end"]) - max(a, sp["start"])
                if overlap > 0:
                    phase[name] += overlap
        st = stage["stages"]
        m.update({
            "discovery_s": phase["discovery"],
            "merge_write_s": phase["merge_write"],
            "other_sql_s": phase["other_sql"],
            "shuffle_write_mb": st["shuffle_write_bytes"] / 1e6,
            "shuffle_read_mb": st["shuffle_read_bytes"] / 1e6,
            "spill_mb": st["disk_spilled_bytes"] / 1e6,
            "executor_run_s": st["executor_run_ms"] / 1000.0,
            "jvm_gc_s": st["jvm_gc_ms"] / 1000.0,
        })
        unattributed -= sum(phase.values())
    m["unattributed_s"] = max(0.0, unattributed)
    for k, v in m.items():
        out[f"{prefix}merge.{k}"] = v
    out[f"{prefix}table.load_s"] = table_s["load"]
    out[f"{prefix}table.harvest_s"] = table_s["harvest_files"]
    out[f"{prefix}table.commit_s"] = table_s["commit"]
    out[f"{prefix}table.target_plan_s"] = table_s["target_plan"]
    return m["unattributed_s"]


def _stream_layer(progress: list[dict], spans: list[dict], stream_s: float, waits: list[float],
                  prefix: str, out: dict) -> float:
    """Fill ``<prefix>stream.*``; returns unattributed stream seconds.

    ``stream_s`` is the phase's wall time minus what the client did itself;
    what the stream did outside apply_batch is each trigger's
    triggerExecution minus its apply time, plus the wait before a trigger
    picked up a landed segment."""
    apply_s = total(spans, "merge.apply_batch")
    overhead = max(0.0, stream_s - apply_s)
    out[f"{prefix}stream.overhead_s"] = overhead
    for key, field in _STREAM_KEYS.items():
        vals = [p["duration_ms"].get(field, 0) for p in progress]
        out[f"{prefix}stream.{key}"] = stats.median(vals) if vals else 0.0
    trigger_s = sum(p["duration_ms"].get("triggerExecution", 0) for p in progress) / 1000.0
    attributed = max(0.0, trigger_s - apply_s) + sum(waits)
    unattributed = max(0.0, overhead - attributed)
    out[f"{prefix}stream.unattributed_s"] = unattributed
    return unattributed


def _layers(report, tracer, bulk_win, point_win, bulk_stage, point_stage,
            bulk_progress, point_progress, point, e2e) -> dict:
    out: dict[str, float] = {}
    bulk_spans = tracer.window(*bulk_win)
    bulk_wall = bulk_win[1] - bulk_win[0]
    un = _merge_layer(bulk_spans, bulk_stage, tracer, "bulk.", out)
    un += _stream_layer(bulk_progress, bulk_spans, bulk_wall, [], "bulk.", out)
    out["bulk.unattributed_share"] = un / bulk_wall if bulk_wall else 0.0
    if point_win is not None:
        spans = tracer.window(*point_win)
        point_wall = point_win[1] - point_win[0]
        # trigger wait: segment landed -> the trigger that picked it up started
        starts = sorted(tracer.rel(_epoch_s(p["timestamp"])) for p in point_progress)
        lands = [s["land"] - tracer.t0 for s in point]
        waits = [max(0.0, s - t) for t, s in zip(lands, starts)]
        out["point.stream.trigger_wait_s"] = stats.median(waits) if waits else 0.0
        # the client's own work: generating corrections, checking visibility, reads
        client = (total(spans, "read.read_conversation") + total(spans, "gen.correction")
                  + sum(s["visible_check"] for s in point))
        un = _merge_layer(spans, point_stage, tracer, "point.", out)
        un += _stream_layer(point_progress, spans, point_wall - client, waits, "point.", out)
        out["point.unattributed_share"] = un / point_wall if point_wall else 0.0
        out["point.commit_latency_p50_s"] = report["point"]["commit_latency"]["p50"]
        out["point.read_latency_p50_s"] = report["point"]["read_latency"]["p50"] or 0.0
        files = [f for s in point for f in s["read_files"]]
        out["point.read.files_per_lookup"] = stats.median(files) if files else 0.0
        out["point.read.plan_s"] = sum(r for s in point for r in s["read_plan"])
        out["point.read.exec_s"] = sum(r for s in point for r in s["read_exec"])
    # the traced run's end-to-end figures, to set against an untraced run's
    windows = bulk_win[1] - bulk_win[0] + (point_win[1] - point_win[0] if point_win else 0.0)
    out["trace.self_cost_pct"] = 100.0 * tracer.cost_s / windows
    out["trace.throughput_per_s"] = e2e["throughput_per_s"] or 0.0
    out["trace.latency_s"] = e2e["latency_s"] or 0.0
    c = report["correctness"]
    out["table.files"] = c.get("table_files", 0)
    out["table.delta_files"] = c.get("table_delta_files", 0)
    out["table.mb"] = c.get("table_mb", 0.0)
    out["normalize.rows_per_s"] = report["normalize"]["rows_per_s"]
    out["normalize.ascii_share"] = report["normalize"]["ascii_share"]
    return out


def _epoch_s(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()
