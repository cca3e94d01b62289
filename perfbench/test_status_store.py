"""Pins the status-store fallback: when Spark's private AppStatusStore API is
missing, the benchmark reports timings only instead of failing.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

from py4j.protocol import Py4JError

from perfbench.cdc_replay import _merge_layer
from perfbench.trace import StatusStore, Tracer


class _Obj:
    def __init__(self, **attrs):
        self.__dict__.update(attrs)


def _spark(store):
    """A stand-in SparkSession whose status store is ``store``."""
    scala_sc = _Obj(statusStore=lambda: store)
    sc = _Obj(_jsc=_Obj(sc=lambda: scala_sc), _gateway=_Obj(new_array=lambda *a: []))
    jvm = _Obj(java=_Obj(util=_Obj(ArrayList=list)), double=float)
    shared = _Obj(statusStore=lambda: _Obj(executionsList=_missing))
    return _Obj(sparkContext=sc, _jvm=jvm, _jsparkSession=_Obj(sharedState=lambda: shared))


def _missing(*_a, **_k):
    raise Py4JError("Method stageList([class java.util.ArrayList]) does not exist")


def test_missing_method_falls_back_to_timings_only():
    store = StatusStore(_spark(_Obj(stageList=_missing)))
    assert store.stages() is None
    assert not store.available
    assert "does not exist" in store.reason
    assert store.sql_executions() is None
    assert store.mark() == {"stage": -1, "execution": -1}
    assert store.merge_metrics({"stage": -1, "execution": -1}) is None


def test_missing_status_store_falls_back_at_construction():
    spark = _spark(None)
    spark.sparkContext._jsc = _Obj(sc=lambda: _Obj())  # no statusStore()
    store = StatusStore(spark)
    assert not store.available
    assert store.stages() is None and store.sql_executions() is None


def test_merge_layer_without_status_store_keeps_timings():
    tracer = Tracer()
    with tracer.span("merge.apply_batch", op_id=0) as rec:
        rec.update(rows_in=10, files_read=3, files_pruned=1)
        with tracer.span("table.harvest_files") as h:
            h.update(base_files=1, delta_files=0)
        with tracer.span("table.commit"):
            pass
    out: dict = {}
    unattributed = _merge_layer(tracer.spans, None, tracer, "bulk.", out)
    assert out["bulk.merge.rows_in"] == 10
    assert out["bulk.merge.prune_ratio"] == 0.25
    assert out["bulk.merge.apply_s"] > 0
    assert out["bulk.merge.compact_apply_p50_s"] == out["bulk.merge.apply_p50_s"]
    assert unattributed >= 0
    # status-store metrics are absent rather than invented
    for k in ("discovery_s", "merge_write_s", "other_sql_s", "shuffle_write_mb", "jvm_gc_s"):
        assert f"bulk.merge.{k}" not in out
