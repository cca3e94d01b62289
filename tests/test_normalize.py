import pandas as pd
import pytest

from sfr_ingest_pipeline_spark.functions.normalize import (
    normalize_text,
    normalize_text_pandas,
)

GOLDEN = [
    # (raw, normalized)
    ("hello  world", "hello world"),
    ("  lead and trail  ", "lead and trail"),
    ("tab\t\tseparated", "tab separated"),
    ("a\r\nb\rc", "a\nb\nc"),
    ("bell\x07escape\x1b", "bellescape"),
    ("cafe\u0301", "caf\u00e9"),  # NFD -> NFC
    ("A\u030angstro\u0308m", "\u00c5ngstr\u00f6m"),  # combining ring/diaeresis
    ("\u00c5 already NFC", "\u00c5 already NFC"),
    ("zero\x00byte", "zerobyte"),
    ("keep \U0001f600 emoji", "keep \U0001f600 emoji"),
    ("漢字　wide?", "漢字　wide?"),        # ideographic space preserved
    ("", ""),
]


@pytest.mark.parametrize("raw,expected", GOLDEN)
def test_golden_cases(raw, expected):
    assert normalize_text(raw) == expected


def test_null_passthrough():
    s = pd.Series([None, "x"], dtype="object")
    out = normalize_text_pandas(s)
    assert out.iloc[0] is None or pd.isna(out.iloc[0])
    assert out.iloc[1] == "x"


def test_idempotent():
    for raw, _ in GOLDEN:
        once = normalize_text(raw)
        assert normalize_text(once) == once


def test_spark_udf_matches_pandas(spark):
    from pyspark.sql import functions as F

    from sfr_ingest_pipeline_spark.functions.normalize import normalize_text_udf

    raws = [r for r, _ in GOLDEN]
    df = spark.createDataFrame([(r,) for r in raws], ["text"])
    got = [r["n"] for r in df.select(normalize_text_udf("text").alias("n")).collect()]
    assert got == [e for _, e in GOLDEN]


_OLD_HSPACE_RE = r"[ \t]+"


def _normalize_with_old_hspace(s: pd.Series) -> pd.Series:
    """normalize_text_pandas as it was with the plain ``[ \\t]+`` pattern."""
    from sfr_ingest_pipeline_spark.functions.normalize import _CONTROL_RE

    return (
        s.str.normalize("NFC")
        .str.replace("\r\n", "\n", regex=False)
        .str.replace("\r", "\n", regex=False)
        .str.replace(_CONTROL_RE, "", regex=True)
        .str.replace(_OLD_HSPACE_RE, " ", regex=True)
        .str.strip()
    )


def test_hspace_pattern_matches_plain_run_collapse_exhaustively():
    """The pattern that skips lone spaces rewrites exactly like ``[ \\t]+``
    on every string of up to 6 characters over the whitespace alphabet."""
    import itertools
    import re

    from sfr_ingest_pipeline_spark.functions.normalize import _HSPACE_RE

    old, new = re.compile(_OLD_HSPACE_RE), re.compile(_HSPACE_RE)
    alphabet = (" ", "\t", "a", "\n", "\r", " ")
    for n in range(7):
        for chars in itertools.product(alphabet, repeat=n):
            s = "".join(chars)
            assert new.sub(" ", s) == old.sub(" ", s), repr(s)


def test_normalize_unchanged_on_generator_texts(tmp_path):
    """Byte-identical output on the benchmark generator's texts (400-char
    turns built from every text fragment) and the stateful generator's."""
    import pyarrow.parquet as pq

    from sfr_ingest_pipeline_spark.generator import (
        BinlogGenerator,
        GeneratorSpec,
        fast_binlog,
    )

    fast_binlog(str(tmp_path), n_events=3000, n_segments=1, seed=5,
                text_chars=400)
    texts = [pq.read_table(str(tmp_path), columns=["text"]).column("text")
             .to_pandas()]
    for seg in BinlogGenerator(GeneratorSpec(seed=5, n_events=1000)).iter_segments():
        texts.append(seg.column("text").to_pandas())
    s = pd.concat(texts, ignore_index=True)
    assert s.notna().sum() > 3000
    pd.testing.assert_series_equal(
        normalize_text_pandas(s), _normalize_with_old_hspace(s)
    )
