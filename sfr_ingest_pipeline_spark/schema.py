"""Schemas for the change-event stream and the transcripts table.

Normative shapes from BASELINE.json:15 (input_hint) and FIXTURES.md §A:

  transcripts:    conv_id:string, turn_idx:int32, role:string, text:string,
                  tool:string, ts:timestamp
  change_events:  op:string(I/U/D) + transcript payload + event_seq:int64

The physical table additionally stores ``event_seq`` of the winning write so
cross-batch late events can lose last-writer-wins against committed state
(SURVEY.md §2.11 MERGE condition). Schema evolution is additive: new nullable
columns appended (e.g. ``tool_meta``), old data files null-fill on read.

Reference parity: the reference's FRBR object graph (Work/Instance/Item,
core/model/*.py in NYPL/sfr-ingest-pipeline) collapses here to one wide keyed
table per SURVEY.md §1.3 — the payload axis swaps books→transcripts, identity
becomes exact (conv_id, turn_idx) instead of fuzzy identifier lookup.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Logical transcript row (what users of the table see).
# ---------------------------------------------------------------------------
TRANSCRIPT_FIELDS = [
    ("conv_id", T.StringType(), False),
    ("turn_idx", T.IntegerType(), False),
    ("role", T.StringType(), True),
    ("text", T.StringType(), True),
    ("tool", T.StringType(), True),
    ("ts", T.TimestampType(), True),
]

TRANSCRIPT_SCHEMA = T.StructType(
    [T.StructField(n, t, nullable) for n, t, nullable in TRANSCRIPT_FIELDS]
)

# Hidden bookkeeping column: LWW tiebreak of the winning write. Excluded from
# user-facing scans unless with_meta=True.
META_SEQ_COL = "event_seq"

# ---------------------------------------------------------------------------
# Change event (binlog/WAL record). op: I=insert U=update D=delete.
# ---------------------------------------------------------------------------
CHANGE_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType(), False),
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("event_seq", T.LongType(), False),
    ]
)

# Evolution variant: +tool_meta (JSON blob) — FIXTURES.md §A3.
CHANGE_EVENT_SCHEMA_V2 = T.StructType(
    CHANGE_EVENT_SCHEMA.fields
    + [T.StructField("tool_meta", T.StringType(), True)]
)

# Payload columns carried from an event into the table (everything except op
# and the key; ts/event_seq double as the LWW order).
def payload_cols(event_schema: T.StructType) -> list[str]:
    return [f.name for f in event_schema.fields if f.name not in ("op",)]


# ---------------------------------------------------------------------------
# Arrow mirrors (generator + oracle run without a SparkSession).
# ---------------------------------------------------------------------------
ARROW_EVENT_SCHEMA = pa.schema(
    [
        pa.field("op", pa.string(), nullable=False),
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us")),
        pa.field("event_seq", pa.int64(), nullable=False),
    ]
)

ARROW_EVENT_SCHEMA_V2 = ARROW_EVENT_SCHEMA.append(
    pa.field("tool_meta", pa.string())
)


# Lossless coercions of an INCOMING batch type into the table's declared
# type (Iceberg's promotion set, read in the write direction): the writer
# casts these silently.
_SAFE_COERCIONS: set[tuple[type, type]] = {
    (T.ByteType, T.ShortType),
    (T.ByteType, T.IntegerType),
    (T.ByteType, T.LongType),
    (T.IntegerType, T.LongType),
    (T.ShortType, T.IntegerType),
    (T.ShortType, T.LongType),
    (T.FloatType, T.DoubleType),
    (T.DateType, T.TimestampType),
}

_INTEGRAL_RANK = {T.ByteType: 0, T.ShortType: 1, T.IntegerType: 2, T.LongType: 3}


def coercion_kind(batch_type: T.DataType, table_type: T.DataType) -> str:
    """How a batch column may enter a table column of a different type.

    "equal"   same type;
    "safe"    lossless upcast (silent);
    "checked" integral narrowing (pandas-sourced batches habitually carry
              int64 for small ints) — allowed, but the writer guards every
              value with a cast-roundtrip and raises on actual overflow
              instead of silently truncating;
    "reject"  anything else (string<->numeric, timestamp->date, renames
              masquerading as type changes): fail loudly at plan time.
    """
    if batch_type == table_type:
        return "equal"
    if isinstance(batch_type, T.NullType):
        return "safe"  # an all-null (void) batch column casts losslessly
    if (type(batch_type), type(table_type)) in _SAFE_COERCIONS:
        return "safe"
    br = _INTEGRAL_RANK.get(type(batch_type))
    tr = _INTEGRAL_RANK.get(type(table_type))
    if br is not None and tr is not None and br > tr:
        return "checked"
    return "reject"


def widen_schema(
    base: T.StructType, incoming: T.StructType, coerce_existing: bool = False
) -> T.StructType:
    """Additive schema evolution: append columns of ``incoming`` missing from
    ``base`` as nullable — Iceberg-style ADD COLUMN only (BASELINE.json:6
    'new columns such as tool metadata ... ALTER-on-write').

    For columns already in ``base`` the table schema is authoritative. With
    ``coerce_existing=True`` (the ingest path) a differing incoming type is
    accepted only when casting the batch value to the table type is
    lossless (int->long, float->double, date->timestamp, ...) or a
    runtime-checked integral narrowing (see :func:`coercion_kind` — the
    writer raises on actual overflow instead of silently truncating);
    anything else raises at plan time with a remediation hint.

    Supported evolution matrix (no field ids — Iceberg DROP/RENAME COLUMN
    are impossible on this layout, and both are rejected explicitly):

      * ADD nullable column            -> appended (ALTER-on-write)
      * missing NULLABLE column        -> legal, null-filled (old producer)
      * missing NON-NULLABLE column    -> raise (drop not supported)
      * 1 dropped + 1 added, same type -> raise (suspected rename)
      * type change, lossless upcast   -> silent cast (ingest path)
      * type change, integral narrow   -> runtime-checked cast
      * any other type change          -> raise
    """
    base_names = {f.name for f in base.fields}
    incoming_names = {f.name for f in incoming.fields}
    # drop/rename detection applies on the INGEST path only
    # (coerce_existing=True — a whole batch entering the table); with
    # coerce_existing=False this is a generic schema union where partial
    # incoming structs are normal (e.g. "add these columns").
    missing = (
        [f for f in base.fields if f.name not in incoming_names]
        if coerce_existing else []
    )
    added = [f for f in incoming.fields if f.name not in base_names]
    # Dropping a REQUIRED column cannot be additive evolution: without
    # field ids (Iceberg DROP/RENAME COLUMN) the table format cannot tell
    # a producer bug from an intended drop, so fail loudly. Missing
    # NULLABLE columns stay legal (an older-schema producer after a
    # widening null-fills them — the v1-binlog-after-v2 path).
    dropped_required = [f for f in missing if not f.nullable]
    if dropped_required:
        names = ", ".join(repr(f.name) for f in dropped_required)
        raise ValueError(
            f"batch schema drops non-nullable column(s) {names}: dropping "
            "columns is not supported — this table format has no field-id "
            "evolution (Iceberg DROP COLUMN); fix the producer or rewrite "
            "the table under a new schema explicitly."
        )
    # Rename heuristic: exactly one column vanished and exactly one new
    # column of the IDENTICAL type appeared — structurally a rename, which
    # without field ids would silently fork the column (old one null-filled
    # forever, new one starting empty). Reject with the real fix spelled
    # out; a genuine simultaneous drop+add of the same type must be done as
    # two separate batches.
    if len(missing) == 1 and len(added) == 1 \
            and missing[0].dataType == added[0].dataType:
        raise ValueError(
            f"batch schema looks like a rename of {missing[0].name!r} -> "
            f"{added[0].name!r} (one column of {added[0].dataType.simpleString()} "
            "dropped, one added): renaming columns requires field-id "
            "evolution (Iceberg RENAME COLUMN), which this table format "
            "does not support. Keep the old column name, or evolve in two "
            "steps (add the new column first, stop writing the old one "
            "later) if a fork is genuinely intended."
        )
    out = list(base.fields)
    for f in incoming.fields:
        if f.name in base_names:
            existing = next(b for b in base.fields if b.name == f.name)
            if existing.dataType != f.dataType:
                kind = coercion_kind(f.dataType, existing.dataType)
                if not coerce_existing or kind == "reject":
                    raise ValueError(
                        f"unsupported type evolution for column {f.name!r}: "
                        f"batch carries {f.dataType.simpleString()} but the "
                        f"table declares {existing.dataType.simpleString()}; "
                        "only lossless upcasts and checked integral "
                        "narrowings are applied automatically. Rewrite the "
                        "table schema explicitly (or fix the producer) "
                        "instead of relying on a lossy cast."
                    )
        else:
            out.append(T.StructField(f.name, f.dataType, True))
    return T.StructType(out)
