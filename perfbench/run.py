"""Benchmark entry point.

    python3 perfbench/run.py --workload {cdc_replay,query_suite} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. Builds nothing: the engine is imported from
the checkout's sources. All scratch files go to ``.perfbench_work/`` and the
traced run's reports and spans to ``.perfbench_out/``, both in the checkout.

The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: with ``--trace 0`` the end-to-end metrics of
BENCHMARK.json, with ``--trace 1`` its per-layer metrics (0 for a layer the
workload does not call). The line before it is the workload's detailed
report. The exit code is 0 only if every operation and correctness check
passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
# a run must end within 180 s; one that would not is stopped here
WATCHDOG_S = 170
WORKLOADS = ("cdc_replay", "query_suite")


@dataclass
class Ctx:
    seed: int
    seconds: float
    trace: bool
    work: str


def _fail(msg: str, code: int = 2) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return code


def _metric_specs() -> tuple[list[dict], list[dict]]:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return b["end_to_end"], b["per_layer"]


def _watchdog() -> threading.Timer:
    def fire():
        print(f"perfbench: run exceeded {WATCHDOG_S}s, stopping", file=sys.stderr)
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if proc is not None:
            proc.kill()
            proc.wait()
        os._exit(3)

    t = threading.Timer(WATCHDOG_S, fire)
    t.daemon = True
    t.start()
    return t


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, CHECKOUT)
    try:
        # the engine, the frozen bench's query list and the oracle frame
        # normalizer are all read from the checkout
        import bench  # noqa: F401
        import scripts.check_oracle  # noqa: F401
        import sfr_ingest_pipeline_spark  # noqa: F401
    except ImportError as e:
        return _fail(f"engine sources not found in {CHECKOUT}: {e}")
    try:
        e2e_specs, layer_specs = _metric_specs()
    except (OSError, KeyError, ValueError) as e:
        return _fail(f"BENCHMARK.json unreadable: {e}")

    from perfbench import cdc_replay, host, query_suite

    module = {"cdc_replay": cdc_replay, "query_suite": query_suite}[args.workload]

    work = host.fresh_dir(os.path.join(CHECKOUT, ".perfbench_work", args.workload))
    out_dir = os.path.join(CHECKOUT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    host.prepare_env(work, CHECKOUT)
    ctx = Ctx(args.seed, args.seconds, bool(args.trace), work)

    dog = _watchdog()
    cpu0 = host.cpu_jiffies()
    spark, session_s = host.start_session(work)
    jvm = host.jvm_pid(spark)
    try:
        res = module.run(spark, ctx)
        peak_rss = host.vm_hwm_mb(jvm) + host.vm_hwm_mb("self")
        # a noisy neighbour shows here; every wall-clock metric stretches with it
        steal = host.steal_pct(cpu0)
    finally:
        host.stop_session(spark)
        dog.cancel()
        shutil.rmtree(work, ignore_errors=True)

    ops = res["ops"]
    report = res["report"]
    setup = report["setup"]
    # session start, input generation, preload and warm-up
    setup_s = session_s + sum(setup.values())
    setup["session_start_s"] = session_s
    report.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host.host_summary(),
        "setup_s": setup_s, "peak_rss_mb": peak_rss, "host_steal_pct": steal,
        "attempted": ops.attempted, "failed": ops.failed,
        "failed_ratio": ops.failed / max(1, ops.attempted), "errors": ops.errors,
    })

    if args.trace:
        layers = dict(res["layers"] or {})
        layers["session.start_s"] = session_s
        layers["gen.s"] = setup["gen_s"]
        layers["host.steal_pct"] = steal
        declared = {m["name"] for m in layer_specs}
        undeclared = sorted(set(layers) - declared)
        if undeclared:
            return _fail(f"per-layer metrics missing from BENCHMARK.json: {undeclared}")
        tag = f"{args.workload}-seed{args.seed}"
        spans_path = os.path.join(out_dir, f"spans-{tag}.json")
        res["tracer"].write(spans_path)
        report["spans_file"] = os.path.relpath(spans_path, CHECKOUT)
        report["per_layer"] = layers
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in layer_specs}
    else:
        values = dict(res["e2e"], setup_s=setup_s, peak_rss_mb=peak_rss)
        missing = [m["name"] for m in e2e_specs if values.get(m["name"]) is None]
        if missing:
            ops.fail(f"end-to-end metrics not measured: {missing}")
        metrics = {m["name"]: {"value": float(values.get(m["name"]) or 0.0), "unit": m["unit"]}
                   for m in e2e_specs}
    with open(os.path.join(out_dir, f"report-{args.workload}-seed{args.seed}"
                                    f"-trace{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": ops.failed == 0, "attempted": ops.attempted,
        "failed": ops.failed, "metrics": metrics,
    }))
    return 0 if ops.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
