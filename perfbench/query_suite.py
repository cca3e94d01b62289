"""The ``query_suite`` workload: the frozen bench's 23 catalog queries.

Setup generates the suite's tables from the seed (``suite_data``) and runs
every query once, collected to pandas and compared with its ``ORACLE_SQL``
twin on DuckDB (row count plus an order-insensitive value compare). That pass
is both the correctness gate and the warm-up; it runs queries on several
threads to shorten set-up. The timed window then runs the
queries to Spark's noop sink in suite order, round after round, starting a
query only if it is expected (from its previous time) to end within the
run's seconds; the first full pass always runs. Each query's figure is the
median of its timed runs.

Every query is dominated by Spark's fixed per-query cost at these sizes (a
pass takes about as long at sf0.005 as at sf0.02), so the tables are kept
small and the window holds about one pass and a part of the next.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

import pandas as pd

from perfbench import stats
from perfbench.host import nproc, quiesce
from perfbench.suite_data import TABLES, generate
from perfbench.trace import Tracer, self_times

# scale factor of the generated tables (lineitem has 6M rows per unit)
SF = 0.02


def _oracle_check(name: str, got: pd.DataFrame, con, sql: str) -> str | None:
    """None if equal, else a one-line reason."""
    from scripts.check_oracle import normalize_frame

    exp = con.execute(sql).fetchdf()
    if len(got) != len(exp):
        return f"{name}: rows {len(got)} != oracle {len(exp)}"
    if sorted(got.columns) != sorted(exp.columns):
        return f"{name}: columns {sorted(got.columns)} != {sorted(exp.columns)}"
    try:
        pd.testing.assert_frame_equal(normalize_frame(got), normalize_frame(exp),
                                      check_dtype=False)
    except AssertionError as e:
        return f"{name}: value mismatch: {str(e).splitlines()[0][:200]}"
    return None


def _timed(spark, names, queries, data, seconds, tracer, ops) -> dict[str, list[float]]:
    times: dict[str, list[float]] = {n: [] for n in names}
    deadline = time.perf_counter() + seconds
    k = 0
    while True:
        name = names[k % len(names)]
        with tracer.span("query", op_id=f"{k // len(names)}.{name}"):
            t0 = time.perf_counter()
            try:
                queries[name](spark, data).write.format("noop").mode("overwrite").save()
                times[name].append(time.perf_counter() - t0)
                ops.ok()
            except Exception as e:  # noqa: BLE001 - counted as a failed query
                ops.fail(f"{name}: {e!r}")
        k += 1
        after = times[names[k % len(names)]]
        if k >= len(names) and not (after and stats.another_fits(deadline, after[-1])):
            return times


def run(spark, ctx) -> dict:
    import duckdb

    from bench import BENCH_QUERIES
    from sfr_ingest_pipeline_spark.functions.normalize import normalize_text_pandas
    from sfr_ingest_pipeline_spark.queries import ORACLE_SQL, QUERIES

    ops = stats.Ops()
    report: dict = {"setup": {}}
    setup = report["setup"]

    data = os.path.join(ctx.work, "suite_data")
    t0 = time.perf_counter()
    rows = generate(data, SF, ctx.seed)
    setup["gen_s"] = time.perf_counter() - t0
    report["input"] = {"sf": SF, "rows": rows}

    # ---- correctness gate + warm-up: every query collected and compared ----
    # The first execution of a query is mostly single-threaded driver work
    # (planning, code generation, JIT), so the pass runs queries on nproc-1
    # threads; the client thread compares results with DuckDB (one thread)
    # as they arrive. It is untimed: only its wall time counts, in setup_s.
    def collect(name):
        return QUERIES[name](spark, data).toPandas()

    t0 = time.perf_counter()
    con = duckdb.connect(config={"threads": 1})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    mismatches = []
    with ThreadPoolExecutor(max_workers=max(1, nproc() - 1)) as pool:
        results = {name: pool.submit(collect, name) for name in BENCH_QUERIES}
        for name in BENCH_QUERIES:
            try:
                got = results[name].result()
            except Exception as e:  # noqa: BLE001
                ops.fail(f"{name}: spark raised {e!r}")
                mismatches.append(name)
                continue
            try:
                reason = _oracle_check(name, got, con, ORACLE_SQL[name])
            except Exception as e:  # noqa: BLE001
                reason = f"{name}: oracle raised {e!r}"
            if reason is None:
                ops.ok()
            else:
                ops.fail(reason)
                mismatches.append(name)
    con.close()
    setup["warmup_s"] = time.perf_counter() - t0
    report["correctness"] = {"oracle_compared": len(BENCH_QUERIES), "mismatches": mismatches}

    # ---- normalize layer probe on the suite's document texts --------------
    import pyarrow.parquet as pq

    texts = pq.read_table(f"{data}/documents.parquet", columns=["text"]).column("text")
    texts = texts.to_pandas()
    norm_s = []
    for _ in range(3):
        t0 = time.perf_counter()
        normalize_text_pandas(texts)
        norm_s.append(time.perf_counter() - t0)
    report["normalize"] = {"rows_per_s": len(texts) / stats.median(norm_s),
                           "ascii_share": float(texts.map(str.isascii).mean())}

    # ---- timed window -------------------------------------------------------
    tracer = Tracer(enabled=ctx.trace)
    quiesce(spark)
    t0 = time.perf_counter()
    times = _timed(spark, BENCH_QUERIES, QUERIES, data, ctx.seconds, tracer, ops)
    window_s = time.perf_counter() - t0
    per_query = {n: stats.median(v) for n, v in times.items() if v}
    suite_s = sum(per_query.values())
    geomean_s = stats.geomean(list(per_query.values())) if per_query else None
    report["suite"] = {
        "runs_per_query": {n: len(v) for n, v in times.items()},
        "suite_s": suite_s,
        "suite_geomean_s": geomean_s,
        "query_s": per_query,
    }
    e2e = {
        # queries per second of one pass at the median query times
        "throughput_per_s": len(per_query) / suite_s if per_query else None,
        "latency_s": geomean_s,
    }
    layers = None
    if ctx.trace:
        layers = {f"query.{n}_s": per_query.get(n, 0.0) for n in BENCH_QUERIES}
        layers["suite.sum_s"] = suite_s
        layers["suite.geomean_s"] = geomean_s or 0.0
        layers["trace.self_cost_pct"] = 100.0 * tracer.cost_s / window_s
        layers["trace.throughput_per_s"] = e2e["throughput_per_s"] or 0.0
        layers["trace.latency_s"] = e2e["latency_s"] or 0.0
        layers["normalize.rows_per_s"] = report["normalize"]["rows_per_s"]
        layers["normalize.ascii_share"] = report["normalize"]["ascii_share"]
        report["layer_self_s"] = self_times(tracer.spans)
    return {"ops": ops, "report": report, "e2e": e2e, "layers": layers, "tracer": tracer}
