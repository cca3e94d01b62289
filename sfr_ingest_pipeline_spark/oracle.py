"""Independent pure-pandas oracle for golden replay fixtures (SURVEY.md §5.2).

Two oracles, deliberately written WITHOUT Spark so engine bugs can't hide in
shared code:

  * :func:`reduce_binlog` — order-independent global reduce: winner per
    (conv_id, turn_idx) by max (ts, event_seq); winner op 'D' -> no row;
    normalize text. This is the converged-table ground truth
    (BASELINE.json:6,15 byte-for-byte per-turn text equality).
  * :func:`simulate_replay` — sequential batch-by-batch apply with the exact
    counter semantics the engine must report per microbatch
    (events_applied, dedup_dropped, merge_conflicts).

Counter contract (the engine's MERGE mirrors this — operators/merge.py):
  dedup_dropped   : events that lost the within-batch LWW reduce (exact
                    re-deliveries and superseded same-key events).
  events_applied  : within-batch winners that also won against committed
                    table state and mutated it (insert / update / delete /
                    new tombstone).
  merge_conflicts : within-batch winners that did NOT win against committed
                    state ((ts, event_seq) <= committed) — stale or
                    duplicate cross-batch arrivals, dropped.

Tombstones: a delete leaves a tombstone row (key + ts/event_seq, _deleted)
in table state so late-arriving older events cannot resurrect a deleted turn.
Logical scans filter tombstones out.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass, field

import pandas as pd

from sfr_ingest_pipeline_spark.functions.normalize import normalize_text_pandas

LOGICAL_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def load_binlog_pandas(binlog_dir: str) -> list[pd.DataFrame]:
    """Read segment parquet files in name order -> list of DataFrames."""
    paths = sorted(glob.glob(os.path.join(binlog_dir, "segment-*.parquet")))
    return [pd.read_parquet(p) for p in paths]


def _union_segments(segments: list[pd.DataFrame]) -> pd.DataFrame:
    """Concat with additive-schema union (missing columns -> NA)."""
    return pd.concat(segments, ignore_index=True, sort=False)


def _none_for_missing(df: pd.DataFrame) -> pd.DataFrame:
    """Object columns carry None, never NaN, for a missing value — the
    null a Spark ``toPandas`` of a string column yields. NaN comes in from
    rows or segments that predate an evolved column (``tool_meta``)."""
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].where(df[c].notna(), None)
    return df


def _extra_payload_cols(df: pd.DataFrame) -> list[str]:
    base = {"op", "conv_id", "turn_idx", "role", "text", "tool", "ts", "event_seq"}
    return [c for c in df.columns if c not in base]


def reduce_binlog(
    segments: list[pd.DataFrame], normalize: bool = True
) -> pd.DataFrame:
    """Order-independent converged table from all events."""
    ev = _union_segments(segments)
    # Exact re-deliveries share event_seq and are byte-identical -> keep one.
    ev = ev.drop_duplicates(subset=["event_seq"], keep="first")
    # Winner per key: max (ts, event_seq). Stable via sort + tail.
    ev = ev.sort_values(["ts", "event_seq"], kind="mergesort")
    winners = ev.groupby(["conv_id", "turn_idx"], as_index=False).tail(1)
    winners = winners[winners["op"] != "D"].copy()
    if normalize:
        winners["text"] = normalize_text_pandas(winners["text"].astype("object"))
    cols = LOGICAL_COLS + _extra_payload_cols(ev)
    out = winners[[c for c in cols if c in winners.columns]]
    return _none_for_missing(
        out.sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )


@dataclass
class BatchCounters:
    batch_id: int
    rows_in: int
    dedup_dropped: int
    events_applied: int
    merge_conflicts: int


@dataclass
class ReplayResult:
    table: pd.DataFrame
    counters: list[BatchCounters] = field(default_factory=list)


def _apply_coalesce_key(
    state: dict[tuple, dict], key: tuple, rows: list[dict],
    payload_cols: list[str],
) -> bool:
    """Field-level combine for one key's batch rows (in (ts, event_seq)
    order) against committed state — the exact formulas of the engine's
    coalesce aggregation (operators/lww.py coalesce_finalize). Returns
    whether the ROW winner came from the batch (the applied/conflict
    counter stays row-level in coalesce mode too)."""
    src_hw = (rows[-1]["ts"], rows[-1]["event_seq"])
    del_src = None
    cand: dict[str, tuple] = {}
    for r in rows:
        o = (r["ts"], r["event_seq"])
        if r["op"] == "D":
            del_src = o
            continue
        for c in payload_cols:
            v = r.get(c)
            if v is not None and not pd.isna(v):
                cand[c] = (o, v)

    tgt = state.get(key)
    tgt_order = (tgt["ts"], tgt["event_seq"]) if tgt is not None else None
    applied_row = tgt is None or src_hw > tgt_order
    # persistent delete memory: batch deletes, the state's tombstone order
    # AND the delete high-water remembered from earlier batches (mirrors
    # the engine's _del_hw physical column)
    del_hw = max(
        (d for d in (
            del_src,
            tgt_order if (tgt is not None and tgt["_deleted"]) else None,
            tgt.get("_del_hw") if tgt is not None else None,
        ) if d is not None),
        default=None,
    )
    deleted = (src_hw == del_hw) if applied_row else tgt["_deleted"]

    new_row: dict = {}
    for c in payload_cols:
        tgt_c = None
        if (
            tgt is not None and not tgt["_deleted"]
            and tgt.get(c) is not None and not pd.isna(tgt.get(c))
            and (del_hw is None or tgt_order > del_hw)
        ):
            tgt_c = (tgt_order, 1, tgt[c])
        src_c = None
        if c in cand and (del_hw is None or cand[c][0] > del_hw):
            src_c = (cand[c][0], 0, cand[c][1])
        # max on (order, rank): target wins exact (ts, event_seq) ties
        pick = max(
            (x for x in (tgt_c, src_c) if x is not None),
            key=lambda x: (x[0], x[1]), default=None,
        )
        new_row[c] = pick[2] if pick is not None else None
    win_order = src_hw if applied_row else tgt_order
    new_row["ts"], new_row["event_seq"] = win_order
    new_row["_deleted"] = deleted
    new_row["_del_hw"] = del_hw
    new_row["conv_id"], new_row["turn_idx"] = key
    state[key] = new_row
    return applied_row


def simulate_replay(
    batches: list[pd.DataFrame], normalize: bool = True,
    column_merge: str = "row",
) -> ReplayResult:
    """Sequential apply with per-batch counters (engine-contract mirror).

    ``column_merge="coalesce"`` mirrors the engine's field-level LWW: a
    partial-update event only overwrites the columns it carries non-null;
    committed state acts as a single row at its row order (per-column
    SET-times are not retained across commits — documented engine
    semantics), but the delete high-water IS retained (engine _del_hw
    column), so delete cuts are batch-boundary-exact and re-application
    is idempotent."""
    state: dict[tuple, dict] = {}  # key -> row dict incl. _deleted, ts, event_seq
    counters: list[BatchCounters] = []
    extra_cols: list[str] = []

    for batch_id, batch in enumerate(batches):
        for c in _extra_payload_cols(batch):
            if c not in extra_cols:
                extra_cols.append(c)
        rows_in = len(batch)
        b = batch.drop_duplicates(subset=["event_seq"], keep="first")
        b = b.sort_values(["ts", "event_seq"], kind="mergesort")
        winners = b.groupby(["conv_id", "turn_idx"], as_index=False).tail(1)
        dedup_dropped = rows_in - len(winners)

        applied = 0
        conflicts = 0
        if column_merge == "coalesce":
            payload_cols = ["role", "text", "tool", *extra_cols]
            for key, grp in b.groupby(["conv_id", "turn_idx"], sort=False):
                if _apply_coalesce_key(
                    state, tuple(key), grp.to_dict("records"), payload_cols
                ):
                    applied += 1
                else:
                    conflicts += 1
        else:
            for row in winners.to_dict("records"):
                key = (row["conv_id"], row["turn_idx"])
                incoming = (row["ts"], row["event_seq"])
                current = state.get(key)
                if current is not None and incoming <= (current["ts"], current["event_seq"]):
                    conflicts += 1
                    continue
                new_row = {k: v for k, v in row.items() if k != "op"}
                new_row["_deleted"] = row["op"] == "D"
                state[key] = new_row
                applied += 1
        counters.append(
            BatchCounters(batch_id, rows_in, dedup_dropped, applied, conflicts)
        )

    live = [r for r in state.values() if not r["_deleted"]]
    cols = LOGICAL_COLS + extra_cols
    table = pd.DataFrame(live, columns=cols + ["_deleted"])
    table = table[cols]
    if normalize and len(table):
        table["text"] = normalize_text_pandas(table["text"].astype("object"))
    table = _none_for_missing(
        table.sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    return ReplayResult(table=table, counters=counters)
