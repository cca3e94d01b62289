import pandas as pd
from pyspark.sql import functions as F

from sfr_ingest_pipeline_spark.operators.lww import lww_rank, lww_reduce


def _spark_events(spark, binlog_dir):
    return spark.read.option("mergeSchema", "true").parquet(binlog_dir)


def test_lww_reduce_matches_pandas(spark, binlog_basic, segments_basic):
    df = _spark_events(spark, binlog_basic[0])
    got = (
        lww_reduce(df).orderBy("conv_id", "turn_idx").toPandas()
    )
    ev = pd.concat(segments_basic, ignore_index=True)
    ev = ev.drop_duplicates("event_seq").sort_values(["ts", "event_seq"])
    exp = (
        ev.groupby(["conv_id", "turn_idx"], as_index=False)
        .tail(1)
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert list(got["event_seq"]) == list(exp["event_seq"])


def test_salted_equals_unsalted(spark, binlog_hot):
    df = _spark_events(spark, binlog_hot[0])
    a = lww_reduce(df, n_salt=1).orderBy("conv_id", "turn_idx").toPandas()
    b = lww_reduce(df, n_salt=16).orderBy("conv_id", "turn_idx").toPandas()
    pd.testing.assert_frame_equal(a, b)


def test_lww_rank_winner_matches_reduce(spark, binlog_basic):
    # .cache() is a plan barrier working around a Spark 4.1.2 column-pruning
    # bug (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND) in dedup->window->count plans.
    df = _spark_events(spark, binlog_basic[0]).dropDuplicates(["event_seq"]).cache()
    ranked = lww_rank(df).filter(F.col("lww_rank") == 1).drop("lww_rank")
    reduced = lww_reduce(df)
    assert ranked.count() == reduced.count()
    assert (
        ranked.select("conv_id", "turn_idx", "event_seq")
        .exceptAll(reduced.select("conv_id", "turn_idx", "event_seq"))
        .count()
        == 0
    )


def test_lww_reduce_column_tie_and_aggs_salt_invariant(spark, binlog_hot):
    """The fused-merge form: a Column tie-break after the named order
    columns decides exact-order ties, and ``aggs`` fold beside the winner;
    both give the same rows salted and unsalted."""
    ev = _spark_events(spark, binlog_hot[0]).withColumn("_rank", F.lit(0))
    # a rival for every event at the SAME (ts, event_seq), losing the tie
    rival = ev.withColumn("text", F.lit("rival")).withColumn("_rank", F.lit(1))
    df = ev.unionByName(rival).withColumns({
        "_n": (F.col("_rank") == 0).cast("long"),
        "_has_rival": F.col("_rank") == 1,
    })
    order = ["ts", "event_seq", (-F.col("_rank")).alias("_tie")]
    aggs = {"_n": F.sum, "_has_rival": F.max}
    keys = ["conv_id", "turn_idx"]
    payload = [c for c in ev.columns if c not in keys]

    def run(n_salt):
        out = lww_reduce(df, keys, order, n_salt,
                         payload_cols=payload, aggs=aggs)
        assert out.columns == [*keys, *payload, "_n", "_has_rival"]
        return out.orderBy(*keys).toPandas()

    a, b = run(1), run(8)
    pd.testing.assert_frame_equal(a, b)
    assert (a["_rank"] == 0).all() and (a["text"] != "rival").all()
    assert a["_has_rival"].all()
    n_events = ev.groupBy(*keys).count().orderBy(*keys).toPandas()
    assert list(a["_n"]) == list(n_events["count"])
