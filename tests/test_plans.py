"""Plan-quality gates (SURVEY.md §4.2): assert the physical plans we rely on,
don't hope for them. These tests fail if a refactor breaks predicate
pushdown, column pruning, broadcast selection or map-side partial
aggregation."""

import pytest
from pyspark.sql import functions as F

from sfr_ingest_pipeline_spark.operators.lww import lww_reduce
from sfr_ingest_pipeline_spark.plans import (
    has_broadcast_join,
    has_cartesian_product,
    has_partial_aggregate,
    pushed_filters,
    read_schema_columns,
    wholestage_codegen_spans,
)
from sfr_ingest_pipeline_spark.queries import (
    q_pricing_summary,
    q_region_revenue,
    q_top_revenue_orders,
)

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    df = q_pricing_summary(spark, SF)
    filters = pushed_filters(df)
    assert any("l_shipdate" in f for f in filters), filters


def test_column_pruning(spark):
    df = q_pricing_summary(spark, SF)
    scans = read_schema_columns(df)
    assert scans, "expected at least one parquet scan"
    cols = set().union(*[set(s) for s in scans])
    # lineitem has 11 columns; the query needs 6
    assert "l_orderkey" not in cols and "l_partkey" not in cols, cols
    assert {"l_returnflag", "l_linestatus", "l_quantity"} <= cols


def test_dimension_joins_broadcast(spark):
    df = q_region_revenue(spark, SF)
    assert has_broadcast_join(df)
    assert not has_cartesian_product(df)


def test_top_revenue_no_cartesian(spark):
    df = q_top_revenue_orders(spark, SF)
    assert not has_cartesian_product(df)


def test_lww_reduce_has_partial_agg(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    red = lww_reduce(ev, ["user_id"], ["ts", "event_id"], n_salt=1)
    assert has_partial_aggregate(red)


def test_scan_only_needed_columns_for_projection(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    scans = read_schema_columns(docs)
    assert scans and scans[0] == ["doc_id"], scans


def test_codegen_spans_exist(spark):
    # AQE defers physical planning, reporting 0 codegen subtrees before
    # execution — plan once with AQE off to see the codegen structure
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = q_pricing_summary(spark, SF)
        assert wholestage_codegen_spans(df) >= 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_merge_plan_no_cartesian_and_partial(spark, tmp_path, segments_basic, small_cfg):
    """The fused LWW+MERGE plan: no cartesian anywhere, map-side combine on."""
    from pyspark.sql import types as T

    from sfr_ingest_pipeline_spark.operators.merge import _null_fill
    from sfr_ingest_pipeline_spark.schema import TRANSCRIPT_SCHEMA
    from sfr_ingest_pipeline_spark.table.transcript_table import physical_schema

    batch = spark.createDataFrame(segments_basic[0])
    phys = physical_schema(TRANSCRIPT_SCHEMA)
    src = _null_fill(batch, TRANSCRIPT_SCHEMA)
    src = src.withColumn("_deleted", F.col("op") == "D").withColumn(
        "_del_hw", F.lit(None).cast(phys["_del_hw"].dataType)
    ).select(
        *[f.name for f in phys.fields]
    ).withColumns({
        "_src_rank": F.lit(0), "_n_s": F.lit(1).cast("long"),
        "_has_t": F.lit(False),
    })
    carry = [f.name for f in phys.fields if f.name not in ("conv_id", "turn_idx")]
    # the row-mode merge aggregate, built the way apply_batch builds it
    resolved = lww_reduce(
        src, ["conv_id", "turn_idx"],
        ["ts", "event_seq", F.col("_src_rank").alias("_tie")],
        payload_cols=[*carry, "_src_rank"],
        aggs={"_n_s": F.sum, "_has_t": F.max},
    )
    assert not has_cartesian_product(resolved)
    assert has_partial_aggregate(resolved)


@pytest.mark.parametrize("column_merge", ["row", "coalesce"])
def test_fused_merge_one_wide_shuffle(
    spark, tmp_path, monkeypatch, segments_basic, column_merge
):
    """The fused LWW+MERGE aggregate of apply_batch (row mode's lww_reduce,
    coalesce mode's coalesce_fold) costs exactly ONE hash exchange, and the
    salted pre-phase exactly one more."""
    import re
    from dataclasses import replace

    from sfr_ingest_pipeline_spark.config import EngineConfig
    from sfr_ingest_pipeline_spark.operators.merge import apply_batch
    from sfr_ingest_pipeline_spark.plans import explain_str
    from sfr_ingest_pipeline_spark.table.transcript_table import TranscriptTable

    merged = []
    write = TranscriptTable.write_bucketed

    def spy(self, df, *args, **kwargs):
        merged.append(explain_str(df, "simple"))  # merge output, pre-write
        return write(self, df, *args, **kwargs)

    monkeypatch.setattr(TranscriptTable, "write_bucketed", spy)
    cfg = EngineConfig(n_buckets=2, shuffle_partitions=4,
                       column_merge=column_merge)
    batch = spark.createDataFrame(segments_basic[0])
    for n_salt, want in ((1, 1), (4, 2)):
        root = str(tmp_path / f"t{n_salt}")
        TranscriptTable.create(root, n_buckets=cfg.n_buckets)
        apply_batch(spark, root, batch, 0, config=replace(cfg, n_salt=n_salt))
        plan = merged.pop()
        shuffles = re.findall(r"Exchange hashpartitioning", plan)
        assert len(shuffles) == want, plan


def test_lsh_vector_queries_no_cartesian(spark):
    """The LSH-bucketed vector paths must join on bucket id — a cartesian
    (all-pairs) plan would be the classic similarity-search scale killer."""
    from sfr_ingest_pipeline_spark.queries import (
        q_embedding_near_dups,
        q_srp_ann_topk,
    )

    assert not has_cartesian_product(q_embedding_near_dups(spark, SF))
    near = q_srp_ann_topk(spark, SF)
    assert not has_cartesian_product(near)
    assert has_broadcast_join(near)  # small query side broadcast, corpus stays put


def test_grouping_sets_single_exchange(spark):
    """Expand + ONE shuffle computes all three grouping sets in a pass."""
    from sfr_ingest_pipeline_spark.plans import explain_str
    from sfr_ingest_pipeline_spark.queries import q_grouping_sets_order_stats

    import re

    plan = explain_str(q_grouping_sets_order_stats(spark, SF))
    shuffles = len(re.findall(r"\(\d+\) Exchange", plan))
    assert shuffles <= 1, plan
    assert "Expand" in plan


def test_simhash_no_shuffle(spark):
    """SimHash is a pure per-row projection: no exchange beyond the
    scale-adaptive scan fan-out (queries._spread, round-robin only — a
    no-op on multi-split scans), no UDF."""
    import re

    from sfr_ingest_pipeline_spark.plans import explain_str
    from sfr_ingest_pipeline_spark.queries import q_simhash_docs

    plan = explain_str(q_simhash_docs(spark, SF))
    for m in re.finditer(r"Exchange (\w+)", plan):
        assert m.group(1) == "RoundRobinPartitioning", plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ivf_ann_plan_shape(spark):
    """IVF: the only loop join is against the broadcast 8-row centroid set
    (assignment); candidate scoring must be a hash join on _cell, and no
    true cartesian anywhere."""
    from sfr_ingest_pipeline_spark.plans import explain_str
    from sfr_ingest_pipeline_spark.queries import q_ivf_ann_topk

    plan = explain_str(q_ivf_ann_topk(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan          # probes joined to cells by key
    assert "SortMergeJoin" not in plan          # corpus never shuffles to join


def test_fuzzy_join_jvm_side(spark):
    """Fuzzy verify stage stays in codegen: no Python eval in the plan."""
    from sfr_ingest_pipeline_spark.plans import explain_str
    from sfr_ingest_pipeline_spark.queries import q_fuzzy_part_pairs

    plan = explain_str(q_fuzzy_part_pairs(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_dedup_pair_queries_no_cartesian(spark):
    """Both near-dup pipelines must join on band keys, never all-pairs."""
    from sfr_ingest_pipeline_spark.queries import (
        q_minhash_lsh_dedup_pairs,
        q_simhash_near_dup_pairs,
    )

    assert not has_cartesian_product(q_minhash_lsh_dedup_pairs(spark, SF))
    assert not has_cartesian_product(q_simhash_near_dup_pairs(spark, SF))


def test_coalesce_lww_partial_agg_single_exchange(spark):
    """Field-level LWW (round 3): the candidate maxima must pre-reduce
    MAP-SIDE (partial aggregate) and the unsalted reduce must cost exactly
    ONE exchange — the 'same single wide shuffle as row mode' claim."""
    from sfr_ingest_pipeline_spark.operators.lww import coalesce_lww_reduce
    from sfr_ingest_pipeline_spark.plans import explain_str

    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = coalesce_lww_reduce(
        ev, ["user_id"], ["ts", "event_id"],
        deleted=(F.col("event_type") == "error"), n_salt=1,
    )
    assert has_partial_aggregate(out)
    plan = explain_str(out)
    import re
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchanges == 1, plan
    assert not has_cartesian_product(out)


def test_coalesce_lww_salted_two_exchanges_compose(spark):
    """Salted pre-phase adds exactly one more exchange (key+salt then key)
    and still partial-aggregates map-side before the first one."""
    from sfr_ingest_pipeline_spark.operators.lww import coalesce_lww_reduce
    from sfr_ingest_pipeline_spark.plans import explain_str

    ev = spark.read.parquet(f"{SF}/events.parquet")
    out = coalesce_lww_reduce(ev, ["user_id"], ["ts", "event_id"], n_salt=8)
    assert has_partial_aggregate(out)
    plan = explain_str(out)
    import re
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 2, plan


def test_round3_queries_prune_scans(spark):
    """New round-3 queries read only the columns they need."""
    from sfr_ingest_pipeline_spark.queries import (
        q_date_ranges,
        q_stratified_sample_docs,
    )

    assert read_schema_columns(q_stratified_sample_docs(spark, SF)) == [
        ["doc_id", "text"]
    ]
    assert read_schema_columns(q_date_ranges(spark, SF)) == [
        ["o_orderkey", "o_orderdate"]
    ]


def test_pii_redaction_no_shuffle_no_udf(spark):
    """PII redaction is chained regexp_replace: one codegen projection —
    no exchange, no Python eval (functions/pii.py)."""
    from sfr_ingest_pipeline_spark.plans import explain_str
    from sfr_ingest_pipeline_spark.queries import q_pii_redaction

    import re

    plan = explain_str(q_pii_redaction(spark, SF))
    # the scale-adaptive scan fan-out (queries._spread) is the only
    # permitted exchange — round-robin, a no-op on multi-split scans
    for m in re.finditer(r"Exchange (\w+)", plan):
        assert m.group(1) == "RoundRobinPartitioning", plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_repetition_stats_partial_agg_no_cartesian(spark):
    """repetition_stats must keep the linear explode->two-stage-agg shape:
    map-side partial aggregation present, no cartesian, no Python eval."""
    from sfr_ingest_pipeline_spark.queries import q_repetition_stats

    df = q_repetition_stats(spark, SF)
    assert has_partial_aggregate(df)
    assert not has_cartesian_product(df)
    from sfr_ingest_pipeline_spark.plans import explain_str

    plan = explain_str(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_fuzzy_levenshtein_evaluates_last(spark):
    """operators/fuzzy.py predicate-order contract: the join condition must
    short-circuit on the cheap length band and id ordering BEFORE the
    levenshtein DP — i.e. levenshtein appears after both in the condition
    (round 6: 6.3s -> 4.5s pre-spread on the sf0.1 self-pair bench)."""
    from sfr_ingest_pipeline_spark.plans import explain_str
    from sfr_ingest_pipeline_spark.queries import q_fuzzy_part_pairs

    plan = explain_str(q_fuzzy_part_pairs(spark, SF))
    cond = next(
        line for line in plan.split("\n") if "Join condition" in line
    )
    lev = cond.index("levenshtein")
    assert cond.index("abs(") < lev
    assert cond.index("id_a") < lev
