"""Arrow-vectorized text normalization (the per-turn text invariant).

BASELINE.json:6 pins *all* text normalization to Arrow-vectorized pandas UDFs
— no per-row Python in the Spark plan. The same vectorized pandas code is
reused by the pure-pandas oracle reducer so engine and oracle agree
byte-for-byte (BASELINE.json:15 "per-turn text equality").

Reference parity: the reference cleans titles/text per-record in its readers'
mappers and in core/model/work.py sort-title logic (NYPL/sfr-ingest-pipeline,
reconstructed — SURVEY.md §2.8 F1). Semantics here (documented contract):

  1. Unicode NFC normalization.
  2. CRLF / CR -> LF.
  3. Strip control characters (C0/C1 + DEL) except "\n" and "\t".
  4. Collapse runs of horizontal whitespace (space, tab) to a single space.
  5. Trim leading/trailing whitespace (including newlines) of the whole text.

Nulls pass through as nulls. Deterministic, idempotent (f(f(x)) == f(x)).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

# C0 controls except \t (09) and \n (0A); DEL; C1 controls.
_CONTROL_RE = r"[\x00-\x08\x0b-\x1f\x7f-\x9f]"
# Step 4 matches only the runs it changes: a run that starts with a tab,
# or a space followed by more horizontal whitespace. A lone space already
# is its own replacement, so skipping it keeps the output of ``[ \t]+``
# byte for byte and halves the step's cost on prose, where most runs are
# one space.
_HSPACE_RE = r"\t[ \t]*| [ \t]+"


def normalize_text_pandas(s: pd.Series) -> pd.Series:
    """Vectorized normalization over a pandas Series of strings.

    Uses only pandas .str (vectorized) kernels — this exact function body is
    what runs inside the Spark pandas UDF per Arrow batch, and what the
    golden-fixture oracle calls.
    """
    out = (
        s.str.normalize("NFC")
        .str.replace("\r\n", "\n", regex=False)
        .str.replace("\r", "\n", regex=False)
        .str.replace(_CONTROL_RE, "", regex=True)
        .str.replace(_HSPACE_RE, " ", regex=True)
        .str.strip()
    )
    return out


def normalize_text(value: str | None) -> str | None:
    """Scalar convenience wrapper (tests, docs). Same semantics."""
    if value is None:
        return None
    return normalize_text_pandas(pd.Series([value], dtype="object")).iloc[0]


@F.pandas_udf(StringType())
def _normalize_text_udf(s: pd.Series) -> pd.Series:
    return normalize_text_pandas(s)


def normalize_text_udf(col: Column | str) -> Column:
    """Spark column expression: Arrow-batched, vectorized normalization."""
    return _normalize_text_udf(col)
