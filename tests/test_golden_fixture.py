"""Checked-in golden replay (FIXTURES.md §A4): the committed binlog must
replay — through the full streaming MERGE path, at compaction thresholds 0
and 2 — to the committed expected table, byte-for-byte on text under stable
(conv_id, turn_idx) ordering (BASELINE.json:15)."""

import os
from dataclasses import replace

import pandas as pd
import pytest

from sfr_ingest_pipeline_spark.schema import CHANGE_EVENT_SCHEMA_V2
from sfr_ingest_pipeline_spark.streaming.replay import replay_stream
from sfr_ingest_pipeline_spark.table.transcript_table import TranscriptTable

BASE = os.path.join(os.path.dirname(__file__), "fixtures", "golden_basic")
COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "tool_meta"]


@pytest.fixture(scope="module")
def expected():
    return pd.read_parquet(os.path.join(BASE, "expected.parquet"))


@pytest.mark.parametrize("threshold", [0, 2], ids=["cow", "mor"])
def test_golden_replay(spark, tmp_path, small_cfg, expected, threshold):
    cfg = replace(small_cfg, compact_delta_files=threshold)
    root = str(tmp_path / f"table_{threshold}")
    results = replay_stream(
        spark, os.path.join(BASE, "binlog"), root, str(tmp_path / f"ckpt_{threshold}"),
        config=cfg, event_schema=CHANGE_EVENT_SCHEMA_V2, max_files_per_trigger=1,
    )
    assert all(r.committed for r in results)
    got = (
        TranscriptTable.load(root).scan(spark)
        .orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[COLS], expected[COLS], check_dtype=False)
    # byte-for-byte text equality, explicitly
    g = [t.encode("utf-8") if isinstance(t, str) else None for t in got["text"]]
    e = [t.encode("utf-8") if isinstance(t, str) else None for t in expected["text"]]
    assert g == e
