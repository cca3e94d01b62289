"""Last-writer-wins reduce — the engine's core aggregation (SURVEY.md §2.4 A3).

Reference parity: the reference guards updates with a ``date_modified``
freshness check per record (core/model/work.py in NYPL/sfr-ingest-pipeline,
reconstructed); here that becomes a combiner-friendly ``max_by(struct(payload),
struct(ts, event_seq))`` hash aggregate — partial (map-side) + final, so hot
keys are pre-reduced inside each input partition before any shuffle.

This module is the engine's ONE place that builds a winner aggregate or a
salted pre-phase. :func:`lww_reduce` serves the batch dedup, the fused
MERGE (order extended by a Column tie-break, counter inputs kept beside the
winner through ``aggs``), commit-recency resolution of stored versions
(``table.transcript_table.resolve_stored_versions``) and the
newest-``snapshot_id`` reads of the materialized views and ledgers; the
field-level fold (:func:`coalesce_fold`) shares its salted wrapper.

Skew (BASELINE.json:6 "salted repartitioning ... hot-conversation skew"):
:func:`salted` optionally runs a reduce TWICE — phase 1 groups on
(key..., salt) where salt = pmod(hash(order), n_salt), phase 2 on
(key...) — so no single reducer ever materializes a whole hot key even when
partial aggregation is defeated (e.g. wide payloads spilling the hash map).
Every aggregate here is associative (max_by over a total order, max, sum),
so the two phases give the one-phase answer.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_WINNER = "_w"


def _is_present(col: Column, dtype: T.DataType) -> Column:
    """Column-presence test for the coalesce fold: null is missing, and for
    float/double so is NaN — the pandas oracle's pd.isna treats both as
    absent, and an engine that kept NaN as 'present' would diverge from it
    the moment a numeric payload column carries one (ADVICE r3)."""
    p = col.isNotNull()
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        p = p & ~F.isnan(col)
    return p


def salted(
    df: DataFrame,
    key_cols: Sequence[str],
    n_salt: int,
    salt: Column,
    reduce: Callable[[DataFrame, list[str]], DataFrame],
) -> DataFrame:
    """``reduce(df, group_cols)`` on the keys, preceded when ``n_salt > 1``
    by the same reduce on (keys, pmod(salt, n_salt)). ``reduce`` must keep
    its input's column names so the second phase can re-aggregate the
    first's output."""
    if n_salt and n_salt > 1:
        pre = df.withColumn("_salt", F.pmod(salt, F.lit(n_salt)))
        df = reduce(pre, [*key_cols, "_salt"]).drop("_salt")
    return reduce(df, list(key_cols))


def lww_reduce(
    df: DataFrame,
    key_cols: Sequence[str] = ("conv_id", "turn_idx"),
    order_cols: Sequence[str | Column] = ("ts", "event_seq"),
    n_salt: int = 1,
    *,
    payload_cols: Sequence[str] | None = None,
    aggs: Mapping[str, Callable[[str], Column]] | None = None,
) -> DataFrame:
    """Keep, per key, the payload of the max-(order_cols) row.

    ``payload_cols`` (default: every non-key column not in ``aggs``,
    including the order columns) survive as the winning row's values.
    An ``order_cols`` entry may be a named Column expression (e.g. a
    tie-break over a payload column); the salt hashes only the entries
    given by name. ``aggs`` maps a column to an associative aggregate kept
    beside the winner, e.g. ``{"_n_s": F.sum}``. Output: keys, payload,
    then the ``aggs`` columns. With ``n_salt > 1`` runs the salted
    two-phase variant (:func:`salted`)."""
    aggs = dict(aggs or {})
    if payload_cols is None:
        payload_cols = [c for c in df.columns
                        if c not in key_cols and c not in aggs]
    order = [F.col(c) if isinstance(c, str) else c for c in order_cols]

    def reduce(d: DataFrame, group_cols: list[str]) -> DataFrame:
        winner = F.max_by(
            F.struct(*[F.col(c) for c in payload_cols]), F.struct(*order)
        ).alias(_WINNER)
        agg = d.groupBy(*group_cols).agg(
            winner, *[fn(c).alias(c) for c, fn in aggs.items()]
        )
        return agg.select(
            *group_cols,
            *[F.col(f"{_WINNER}.{c}").alias(c) for c in payload_cols],
            *aggs,
        )

    salt = F.xxhash64(*[F.col(c) for c in order_cols if isinstance(c, str)])
    return salted(df, key_cols, n_salt, salt, reduce)


# --------------------------------------------------------------------------
# Field-level (per-column) LWW — SURVEY.md §3.1 E2: the reference's
# update-if-non-null field semantics (core/model/work.py Work.update,
# reconstructed). Row-level LWW clobbers unmentioned columns of a partial
# update with nulls; in "coalesce" mode each payload column independently
# takes the value from the NEWEST source row in which it is non-null, a
# tombstone (delete) cuts older candidates, and committed state acts as ONE
# row at its row order (per-column set-times are not retained across
# commits — the oracle mirrors exactly this, and it makes CoW, MoR and
# compaction agree: superseded stored versions, including old tombstones,
# are collapsed by an order-leading full-row max before they can
# contribute anything).
#
# The fold is three composable stages so the salted two-phase reduce works
# unchanged (max of per-salt maxes == global max):
#   candidates: per-row -> order-leading structs (no shuffle):
#       _tgt     full state row (target rows only; commit recency breaks
#                (ts, event_seq) ties between stored versions, which a
#                stale-fill delta legitimately creates)
#       _src_hw  newest source event order
#       _del_src newest source DELETE order
#       _cand_c  newest non-null source value per payload column
#   agg:      groupBy(keys[, salt]).agg(max(...)) — plain max/sum; the
#             salted fold over it is coalesce_fold
#   finalize: oracle-identical combine (oracle.py _apply_coalesce_key)
#
# Tie rule matches the row-level merge: state wins an exact
# (ts, event_seq) tie against a re-delivered source event.


def coalesce_candidates(
    df: DataFrame,
    order_cols: Sequence[str],
    payload_cols: Sequence[str],
) -> DataFrame:
    """Per-row candidate structs. Requires ``_deleted`` (bool), ``_src_rank``
    (0 source / 1 state), ``_n_s`` (long), ``_has_t`` (bool) and — when
    stored versions can collide on order — ``_commit_seq`` (long) columns;
    an optional ``_del_hw`` struct column (stored delete memory, order-col
    fields) feeds the delete high-water; keeps every other column (keys,
    salt) untouched."""
    if "_commit_seq" not in df.columns:
        df = df.withColumn("_commit_seq", F.lit(0).cast("long"))
    order = [F.col(c).alias(f"o{i}") for i, c in enumerate(order_cols)]
    is_src = F.col("_src_rank") == 0
    tgt = F.when(
        ~is_src,
        F.struct(
            *order,
            F.col("_commit_seq").alias("cseq"),
            F.col("_deleted").alias("del"),
            # payload nested one level so user column names can never
            # collide with the o*/cseq/del meta fields
            F.struct(*[F.col(c).alias(c) for c in payload_cols]).alias("p"),
        ),
    )
    src_hw = F.when(is_src, F.struct(*order))
    # delete high-water candidates: every delete row (source OR stored
    # tombstone version) at its own order, plus the PERSISTED delete memory
    # of stored rows — without the memory, a committed live row forgets the
    # delete it was rebuilt over and a re-applied/late batch could
    # resurrect a pre-delete fill (hypothesis-caught)
    if "_del_hw" in df.columns:
        stored_del = F.when(
            ~is_src & F.col("_del_hw").isNotNull(),
            F.struct(*[
                F.col(f"_del_hw.{c}").alias(f"o{i}")
                for i, c in enumerate(order_cols)
            ]),
        )
    else:
        # typed null struct (never true) so max()/greatest() type-resolve
        stored_del = F.when(F.lit(False), F.struct(*order))
    del_cand = F.greatest(
        F.when(F.col("_deleted"), F.struct(*order)), stored_del
    )
    tgt_del = F.when(~is_src, stored_del)
    types = {f.name: f.dataType for f in df.schema.fields}
    cands = {
        f"_cand_{c}": F.when(
            is_src & ~F.col("_deleted") & _is_present(F.col(c), types[c]),
            F.struct(*order, F.col(c).alias("v")),
        )
        for c in payload_cols
    }
    keep = [
        c for c in df.columns
        if c not in set(payload_cols) | set(order_cols)
        | {"_deleted", "_src_rank", "_commit_seq", "_del_hw"}
    ]
    return df.select(
        *keep,
        tgt.alias("_tgt"),
        src_hw.alias("_src_hw"),
        del_cand.alias("_del_cand"),
        tgt_del.alias("_tgt_del"),
        *[expr.alias(name) for name, expr in cands.items()],
    )


def coalesce_agg(
    df: DataFrame,
    group_cols: Sequence[str],
    payload_cols: Sequence[str],
) -> DataFrame:
    """One aggregation level over candidate columns; output has the same
    candidate column names, so the salted pre-phase composes by re-applying
    this function on coarser group columns."""
    return df.groupBy(*group_cols).agg(
        F.max("_tgt").alias("_tgt"),
        F.max("_src_hw").alias("_src_hw"),
        F.max("_del_cand").alias("_del_cand"),
        F.max("_tgt_del").alias("_tgt_del"),
        *[F.max(f"_cand_{c}").alias(f"_cand_{c}") for c in payload_cols],
        F.sum("_n_s").alias("_n_s"),
        F.max("_has_t").alias("_has_t"),
    )


def coalesce_fold(
    cand: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    payload_cols: Sequence[str],
    n_salt: int = 1,
) -> DataFrame:
    """:func:`coalesce_agg` per key over :func:`coalesce_candidates` output,
    salted (:func:`salted`) by the hash of each row's source order."""
    salt = F.xxhash64(*[F.col(f"_src_hw.o{i}") for i in range(len(order_cols))])
    return salted(
        cand, key_cols, n_salt, salt,
        lambda df, group_cols: coalesce_agg(df, group_cols, payload_cols),
    )


def coalesce_finalize(
    df: DataFrame,
    key_cols: Sequence[str],
    carry_cols: Sequence[str],
    order_cols: Sequence[str],
    payload_cols: Sequence[str],
) -> DataFrame:
    """Combine aggregated candidates into output rows shaped exactly like
    the row-level merge aggregation (keys + carry + _src_rank + _n_s +
    _has_t), plus ``_changed`` — true iff the resolved row differs from
    prior state (row won by a source event, or any column filled from one),
    which is what a MoR delta append must persist (in coalesce mode a stale
    conflict event can still fill null columns)."""
    n = len(order_cols)
    payload = set(payload_cols)
    # payload value types (for the NaN-is-missing presence guard on stored
    # state — e.g. a row-mode-written table re-merged in coalesce mode)
    tgt_field = next(f for f in df.schema.fields if f.name == "_tgt")
    p_types = {
        f.name: f.dataType for f in tgt_field.dataType["p"].dataType.fields
    }
    tgt = F.col("_tgt")
    tgt_order = F.when(
        tgt.isNotNull(),
        F.struct(*[F.col(f"_tgt.o{i}").alias(f"o{i}") for i in range(n)]),
    )
    src_hw = F.col("_src_hw")
    applied = src_hw.isNotNull() & (
        tgt_order.isNull() | (src_hw > tgt_order)
    )
    # total delete high-water: batch deletes, stored tombstone versions AND
    # the persisted per-key delete memory all folded in _del_cand already
    del_hw = F.col("_del_cand")
    deleted = F.when(applied, src_hw.eqNullSafe(del_hw)).otherwise(
        F.col("_tgt.del")
    )

    def _ranked(order_struct, rank: int, value):
        return F.struct(
            *[order_struct.getField(f"o{i}").alias(f"o{i}") for i in range(n)],
            F.lit(rank).alias("rank"),
            value.alias("v"),
        )

    picks: dict[str, Column] = {}
    filled: list[Column] = []
    for c in payload_cols:
        cand = F.col(f"_cand_{c}")
        cand_order = F.when(
            cand.isNotNull(),
            F.struct(
                *[F.col(f"_cand_{c}.o{i}").alias(f"o{i}") for i in range(n)]
            ),
        )
        tgt_ok = (
            tgt.isNotNull() & ~F.col("_tgt.del")
            & _is_present(F.col(f"_tgt.p.{c}"), p_types[c])
            # a live state row always postdates its own delete memory, so
            # this strict guard only fires for NEWER batch deletes
            & (del_hw.isNull() | (tgt_order > del_hw))
        )
        tgt_c = F.when(tgt_ok, _ranked(tgt_order, 1, F.col(f"_tgt.p.{c}")))
        src_ok = cand.isNotNull() & (
            del_hw.isNull() | (cand_order > del_hw)
        )
        src_c = F.when(src_ok, _ranked(cand_order, 0, F.col(f"_cand_{c}.v")))
        picks[c] = F.greatest(tgt_c, src_c).getField("v")
        filled.append(src_ok & (tgt_c.isNull() | (src_c > tgt_c)))

    out_cols: list[Column] = [F.col(k) for k in key_cols]
    for c in carry_cols:
        if c in payload:
            out_cols.append(picks[c].alias(c))
        elif c in order_cols:
            i = list(order_cols).index(c)
            out_cols.append(
                F.when(applied, F.col(f"_src_hw.o{i}"))
                .otherwise(F.col(f"_tgt.o{i}")).alias(c)
            )
        elif c == "_deleted":
            out_cols.append(deleted.alias("_deleted"))
        elif c == "_del_hw":
            out_cols.append(
                F.when(
                    del_hw.isNotNull(),
                    F.struct(*[
                        del_hw.getField(f"o{i}").alias(oc)
                        for i, oc in enumerate(order_cols)
                    ]),
                ).alias("_del_hw")
            )
        else:  # pragma: no cover - carry col outside payload/order/meta
            raise ValueError(f"unhandled carry column {c!r}")
    # advancing the delete memory is a state change MoR must persist, even
    # when the row winner and every column stay put (a stale delete between
    # the memory and the live row's order)
    del_advanced = del_hw.isNotNull() & (
        F.col("_tgt_del").isNull() | (del_hw > F.col("_tgt_del"))
    ) & tgt.isNotNull()
    changed = applied | del_advanced
    for flag in filled:
        changed = changed | flag
    return df.select(
        *out_cols,
        F.when(applied, F.lit(0)).otherwise(F.lit(1)).alias("_src_rank"),
        "_n_s",
        "_has_t",
        changed.alias("_changed"),
    )


def coalesce_lww_reduce(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    deleted: Column | str | None = None,
    n_salt: int = 1,
    keep_deleted: bool = False,
) -> DataFrame:
    """One-shot field-level LWW over a plain event table.

    Per key: each payload column = value from the newest (by ``order_cols``)
    row where it is non-null; rows matching ``deleted`` act as tombstones
    (they contribute no values and cut all older candidates); the output's
    order columns come from the newest row overall. ``keep_deleted=False``
    drops keys whose newest row is a tombstone.

    ``deleted`` as a column NAME excludes that flag column from the payload
    fold entirely (no wasted candidate aggregate, nothing for the caller to
    drop); as a Column expression the referenced columns stay payload.
    """
    flag_col = deleted if isinstance(deleted, str) else None
    payload_cols = [
        c for c in df.columns
        if c not in set(key_cols) | set(order_cols) | {flag_col}
    ]
    base = df.withColumns(
        {
            "_deleted": (
                F.col(flag_col) if flag_col is not None
                else deleted if deleted is not None
                else F.lit(False)
            ),
            "_src_rank": F.lit(0),
            "_n_s": F.lit(0).cast("long"),
            "_has_t": F.lit(False),
        }
    )
    cand = coalesce_candidates(base, order_cols, payload_cols)
    agg = coalesce_fold(cand, key_cols, order_cols, payload_cols, n_salt)
    carry = [*payload_cols, *order_cols, "_deleted"]
    out = coalesce_finalize(agg, key_cols, carry, order_cols, payload_cols)
    if not keep_deleted:
        out = out.filter(~F.col("_deleted"))
    return out.drop("_src_rank", "_n_s", "_has_t", "_changed", "_deleted")


def lww_rank(
    df: DataFrame,
    key_cols: Sequence[str] = ("conv_id", "turn_idx"),
    order_cols: Sequence[str] = ("ts", "event_seq"),
    rank_col: str = "lww_rank",
) -> DataFrame:
    """Audit-grade variant (SURVEY.md §2.5 W1): rank events per key by the LWW
    order descending; rank 1 is the winner, rank>1 are the dedup-dropped."""
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.desc(c) for c in order_cols]
    )
    return df.withColumn(rank_col, F.row_number().over(w))
