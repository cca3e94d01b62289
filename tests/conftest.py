from __future__ import annotations

import os

import pytest

from sfr_ingest_pipeline_spark.config import EngineConfig
from sfr_ingest_pipeline_spark.generator import generate_binlog
from sfr_ingest_pipeline_spark.oracle import load_binlog_pandas

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from sfr_ingest_pipeline_spark.session import get_spark

    s = get_spark(app_name="engine-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def small_cfg():
    return EngineConfig(n_buckets=8, n_salt=4, shuffle_partitions=16)


@pytest.fixture(scope="session")
def binlog_basic(tmp_path_factory):
    """Basic I/U/D binlog with dups, late events and ts ties (FIXTURES.md A4)."""
    d = str(tmp_path_factory.mktemp("binlog_basic"))
    n = generate_binlog(
        d, seed=42, n_conversations=60, n_events=2000, n_segments=5,
        delete_ratio=0.08, duplicate_ratio=0.08, late_ratio=0.08, ts_tie_ratio=0.1,
    )
    return d, n


@pytest.fixture(scope="session")
def binlog_hot(tmp_path_factory):
    """Zipf hot-conversation skew."""
    d = str(tmp_path_factory.mktemp("binlog_hot"))
    n = generate_binlog(
        d, seed=7, n_conversations=200, n_events=3000, n_segments=4, zipf_s=1.4,
    )
    return d, n


@pytest.fixture(scope="session")
def binlog_evolving(tmp_path_factory):
    """tool_meta appears from segment 3 of 6 (FIXTURES.md A3)."""
    d = str(tmp_path_factory.mktemp("binlog_evo"))
    n = generate_binlog(
        d, seed=11, n_conversations=50, n_events=1800, n_segments=6,
        schema_v2_from_segment=3,
    )
    return d, n


@pytest.fixture(scope="session")
def segments_basic(binlog_basic):
    return load_binlog_pandas(binlog_basic[0])
