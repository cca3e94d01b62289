"""Iceberg-style snapshot-log Parquet table, built from scratch (SURVEY.md §7.3).

No Iceberg/Delta jars exist in this sandbox (SURVEY.md §0.4), so the table
layer the north rule assumes is implemented here with the same core ideas:

  * immutable Parquet data files + a JSON snapshot log under ``metadata/``;
  * optimistic concurrency: the commit point is the CAS (create-exclusive)
    write of the next snapshot JSON — concurrent writers race for the id,
    the loser rebases onto disjoint winners or gets CommitConflictError
    (the Iceberg Hadoop-catalog protocol); ``version-hint.text`` is a
    monotone read cache readers roll forward past;
  * snapshots carry ``properties`` (idempotent batch-id markers, counters,
    per-partition lineage — BASELINE.json:6) and a schema (additive
    evolution, ALTER-on-write);
  * data files are clustered into hash buckets on ``conv_id``
    (pmod(xxhash64(conv_id), n_buckets)); the manifest records per-file
    bucket + row count + conv_id min/max so MERGE prunes to touched buckets
    (and, within them, to files whose conv_id range intersects the batch);
    untouched files are carried forward by reference into the child snapshot;
  * time travel: load any retained snapshot by id or by batch-id.

Physical row schema = logical transcript schema + ``event_seq`` (LWW minor
order of the winning write) + ``_deleted`` tombstone flag. Tombstones keep
late-arriving older events from resurrecting deleted turns; logical scans
filter them out.

At 100 TB (Iceberg-style manifest list): per-file records live in SHARDED
manifest files under ``metadata/manifests/`` — one manifest per commit
holding the full file lists of only the buckets that commit touched; the
snapshot JSON stores just a bucket -> manifest-path mapping (O(n_buckets)
per commit, not O(total files)), and untouched buckets re-reference the
parent's manifest. MERGE therefore reads O(touched buckets) manifest bytes
per microbatch, and time travel binary-searches the snapshot log by batch id
(batch ids are monotone in snapshot ids) in O(log n_commits) JSON reads.
Snapshots written by the pre-sharding format (inline ``files`` list) still
load.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Callable
from dataclasses import asdict, dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sfr_ingest_pipeline_spark.config import EngineConfig
from sfr_ingest_pipeline_spark.schema import TRANSCRIPT_SCHEMA

META_COLS = ("event_seq", "_deleted", "_del_hw")


def bucket_expr(conv_col, n_buckets: int):
    """Bucket id for a conv_id column — the table's clustering transform."""
    return F.pmod(F.xxhash64(conv_col), F.lit(n_buckets)).cast("int")


# Commit-dir prefixes: "snap" (apply_batch), "dml", and the maintenance
# rewrites. commit_dir_rel mints the names and commit_seq_of parses them.
COMMIT_OPS = ("snap", "compact", "recluster", "rebucket", "dml")


def commit_dir_rel(op: str, seq: int) -> str:
    """Table-relative data dir of a commit: ``data/<op>-<seq:08d>-<uuid8>``.
    The uuid keeps concurrent or crashed writers from sharing a dir."""
    if op not in COMMIT_OPS:
        raise ValueError(f"unknown commit op {op!r}; expected one of {COMMIT_OPS}")
    return f"data/{op}-{seq:08d}-{uuid.uuid4().hex[:8]}"


def commit_seq_col():
    """Commit order of the file a row came from, parsed from the data path
    (every commit dir embeds its snapshot id: ``snap-00000012-<uuid>``).

    Used as the FINAL tie-break when LWW-resolving stored multi-version
    rows: in ``column_merge="coalesce"`` mode a stale event can fill null
    columns without advancing the row's (ts, event_seq) order, so a MoR
    delta may legitimately carry the same order as the version it
    supersedes — commit recency disambiguates. Pure codegen, no metadata
    join; zero effect in row mode (applied rows always advance the order,
    so stored orders are collision-free)."""
    return commit_seq_of(F.input_file_name())


def commit_seq_of(path_col):
    """commit_seq_col over an explicit path column (unit-testable).

    try_cast, not cast: a non-matching path extracts '' and ANSI mode
    (Spark 4 default) would throw on casting that — unmatched paths must
    mean commit 0, never a job failure."""
    return F.coalesce(
        F.regexp_extract(
            path_col,
            rf"/(?:{'|'.join(COMMIT_OPS)})-(\d+)-[0-9a-f]+/", 1,
        ).try_cast("long"),
        F.lit(0).cast("long"),
    )


def _epoch_us(v) -> int | None:
    """Parquet footer ts statistic -> epoch microseconds. pyarrow returns
    datetime objects (tz-aware, or naive meaning UTC for Spark-written
    isAdjustedToUTC timestamps) or raw ints for INT64 physical stats.
    Integer arithmetic throughout — float .timestamp() would round µs."""
    import datetime as _dt

    if v is None:
        return None
    if isinstance(v, int):
        return v
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        days = (v.date() - _dt.date(1970, 1, 1)).days
        secs = days * 86400 + v.hour * 3600 + v.minute * 60 + v.second
        return secs * 1_000_000 + v.microsecond
    return None


def resolve_stored_versions(df: DataFrame, key_cols, order_cols) -> DataFrame:
    """Row-level LWW across stored versions of a key (base + MoR deltas):
    winner by (order_cols..., commit recency). The commit tie-break makes
    this exact for coalesce-mode tables too (see :func:`commit_seq_col`);
    each stored version is a complete folded state, so the newest version
    IS the current row.

    A caller that joins the scan before resolving must stamp ``_cseq``
    FIRST (``input_file_name()`` is illegal above a multi-source join);
    a precomputed ``_cseq`` column is honored as-is."""
    if "_cseq" not in df.columns:
        df = df.withColumn("_cseq", commit_seq_col())
    payload = [c for c in df.columns if c not in set(key_cols) | {"_cseq"}]
    winner = F.max_by(
        F.struct(*[F.col(c) for c in payload]),
        F.struct(*[F.col(c) for c in order_cols], F.col("_cseq")),
    ).alias("_w")
    return df.groupBy(*key_cols).agg(winner).select(
        *key_cols, *[F.col(f"_w.{c}").alias(c) for c in payload]
    )


def physical_schema(
    logical: T.StructType, order_cols: tuple = ("ts", "event_seq")
) -> T.StructType:
    """Stored row shape: logical columns + LWW minor-order + tombstone flag
    + the key's DELETE high-water mark.

    ``_del_hw`` is the order of the newest delete ever applied to the key
    (struct of the order columns, null if never deleted). Field-level merge
    needs it as durable memory: without it, a committed live row forgets
    past deletes and a re-applied or late batch could resurrect a
    pre-delete column fill (caught by hypothesis — see
    tests/test_properties.py coalesce re-apply idempotence). Row-mode
    tables carry it as null at negligible cost."""
    fields = list(logical.fields)
    fields.append(T.StructField("event_seq", T.LongType(), True))
    fields.append(T.StructField("_deleted", T.BooleanType(), True))
    types = {f.name: f.dataType for f in fields}
    hw = T.StructType(
        [T.StructField(c, types.get(c, T.LongType()), True) for c in order_cols]
    )
    fields.append(T.StructField("_del_hw", hw, True))
    return T.StructType(fields)


@dataclass
class DataFileInfo:
    path: str            # relative to table root
    bucket: int
    rows: int
    live_rows: int       # rows minus tombstones (exact, from footer read)
    conv_id_min: str | None = None
    conv_id_max: str | None = None
    # ts column bounds in epoch-µs (parquet footer stats), for time-windowed
    # scan pruning; None on files written before these stats existed or
    # whose footers carry no ts min/max
    ts_min_us: int | None = None
    ts_max_us: int | None = None
    # "base": full bucket state (a compacting merge batch or maintenance);
    # "delta": merge-on-read append containing only that batch's winners —
    # readers LWW-reduce base+deltas per key (SURVEY.md §4.3)
    kind: str = "base"
    # conv_id Bloom filter slice in a metadata/blooms/ sidecar blob
    # (table/bloom.py) — None/empty when the file is too key-dense to be
    # worth filtering or was written before blooms existed
    bloom_path: str | None = None
    bloom_off: int = 0
    bloom_len: int = 0
    bloom_k: int = 0


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    created_us: int
    schema_id: int
    schema_json: dict
    n_buckets: int
    # bucket (str) -> manifest file path relative to the table root; each
    # manifest JSON maps bucket -> [DataFileInfo dicts] for EVERY bucket the
    # writing commit touched (one manifest per commit, shared across its
    # buckets); untouched buckets keep the parent's manifest path
    manifests: dict = field(default_factory=dict)
    properties: dict = field(default_factory=dict)
    # natural key + LWW order persisted with the table so the merge-on-read
    # read path honors a non-default EngineConfig (they default for tables
    # created before this field existed)
    key_cols: list[str] = field(default_factory=lambda: ["conv_id", "turn_idx"])
    order_cols: list[str] = field(default_factory=lambda: ["ts", "event_seq"])
    # pre-sharding snapshots stored the full file list inline; kept readable
    legacy_files: list[DataFileInfo] | None = None

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self.schema_json)

    def to_json(self) -> dict:
        d = asdict(self)
        d.pop("legacy_files", None)
        return d

    @staticmethod
    def from_json(d: dict) -> "Snapshot":
        d = dict(d)
        legacy = None
        if "files" in d:  # pre-sharding format
            legacy = [DataFileInfo(**f) for f in d.pop("files")]
        d.pop("legacy_files", None)
        return Snapshot(legacy_files=legacy, **d)


class SnapshotExpiredError(RuntimeError):
    """The snapshot this reader holds was garbage-collected by
    ``expire_snapshots`` — its data files may be gone. Readers must reload
    and use a retained snapshot. The retention contract: ``keep_last`` must
    exceed the longest-running reader's lifetime in commits; this error is
    the deterministic failure mode when it does not (instead of a
    FileNotFoundError mid-job from a half-GC'd file set)."""


class CommitConflictError(RuntimeError):
    """A concurrent writer committed a snapshot this commit cannot be
    rebased onto (overlapping buckets, moved batch marker, changed schema
    or layout). The losing writer must re-run its operation against the
    current table state — its data files are orphans a later
    ``expire_snapshots`` garbage-collects."""


def _atomic_write_json(path: str, payload: dict) -> None:
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(payload, f, ensure_ascii=False, separators=(",", ":"))
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)  # atomic on POSIX


def _atomic_create_json(path: str, payload: dict) -> None:
    """Create ``path`` with CAS semantics: the hard link either installs the
    fully-written temp file under the target name or raises FileExistsError
    — two writers racing the same snapshot id cannot both win, and a file
    that exists is always complete (link-after-fsync)."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(payload, f, ensure_ascii=False, separators=(",", ":"))
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, path)
    finally:
        os.unlink(tmp)


def _atomic_write_text(path: str, text: str) -> None:
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _rebase_or_raise(
    base: "TranscriptTable",
    latest: "TranscriptTable",
    touched: set[int],
    props: dict,
) -> dict:
    """Validate that a commit built against ``base`` may be replayed onto
    ``latest`` (a concurrent winner); returns the (possibly marker-refreshed)
    properties, or raises :class:`CommitConflictError`."""
    bs, ls = base.snapshot, latest.snapshot
    if ls.n_buckets != bs.n_buckets:
        raise CommitConflictError(
            f"bucket layout changed concurrently ({bs.n_buckets} -> "
            f"{ls.n_buckets}); re-run against the current table"
        )
    if ls.key_cols != bs.key_cols or ls.order_cols != bs.order_cols:
        raise CommitConflictError("key/order columns changed concurrently")
    if ls.schema_json != bs.schema_json:
        raise CommitConflictError(
            "table schema evolved concurrently; re-run against the current "
            "schema"
        )
    for b in sorted(touched):
        if (
            {f.path for f in latest.files_in_buckets({b})}
            != {f.path for f in base.files_in_buckets({b})}
        ):
            raise CommitConflictError(
                f"bucket {b} was rewritten by a concurrent commit "
                f"(snapshot {ls.snapshot_id}); re-run against it"
            )
    base_marker = bs.properties.get("batch_id")
    latest_marker = ls.properties.get("batch_id")
    props = dict(props)
    if props.get("batch_id") == base_marker:
        # maintenance-style carry-forward: adopt the winner's marker — the
        # committed marker must never regress (exactly-once bookkeeping)
        props["batch_id"] = latest_marker
    elif latest_marker != base_marker:
        # marker-advancing ingest commit racing another ingest: the batch
        # may already be applied — the caller decides (apply_batch skips)
        raise CommitConflictError(
            f"batch marker advanced concurrently ({base_marker} -> "
            f"{latest_marker}); reload and re-check idempotency"
        )
    return props


class TranscriptTable:
    """Snapshot-log table rooted at ``root`` (local or shared FS); concurrent
    writers are serialized by the CAS commit (see :meth:`commit`)."""

    def __init__(self, root: str, snapshot: Snapshot):
        self.root = root
        self.snapshot = snapshot
        self._manifest_cache: dict[str, dict[int, list[DataFileInfo]]] = {}

    # ------------------------------------------------------------------ io
    @property
    def _meta_dir(self) -> str:
        return os.path.join(self.root, "metadata")

    @staticmethod
    def _snap_path(root: str, snapshot_id: int) -> str:
        return os.path.join(root, "metadata", f"v{snapshot_id:08d}.json")

    @classmethod
    def create(
        cls,
        root: str,
        schema: T.StructType = TRANSCRIPT_SCHEMA,
        n_buckets: int = 16,
        properties: dict | None = None,
        key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
        order_cols: tuple[str, ...] = ("ts", "event_seq"),
    ) -> "TranscriptTable":
        os.makedirs(os.path.join(root, "metadata", "manifests"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        snap = Snapshot(
            snapshot_id=1,
            parent_id=None,
            created_us=int(time.time() * 1e6),
            schema_id=0,
            schema_json=schema.jsonValue(),
            n_buckets=n_buckets,
            manifests={},
            properties=properties or {},
            key_cols=list(key_cols),
            order_cols=list(order_cols),
        )
        # CAS here too: two racing creates must not both think they made the
        # table (the loser's snapshot would silently shadow the winner's)
        _atomic_create_json(cls._snap_path(root, 1), snap.to_json())
        _atomic_write_text(os.path.join(root, "metadata", "version-hint.text"), "1")
        return cls(root, snap)

    @staticmethod
    def _ids_on_disk(root: str) -> list[int]:
        out = []
        for fn in os.listdir(os.path.join(root, "metadata")):
            if fn.startswith("v") and fn.endswith(".json"):
                try:
                    out.append(int(fn[1:-5]))
                except ValueError:
                    continue
        return sorted(out)

    @classmethod
    def load(cls, root: str, snapshot_id: int | None = None) -> "TranscriptTable":
        if snapshot_id is None:
            hint = os.path.join(root, "metadata", "version-hint.text")
            try:
                with open(hint, encoding="utf-8") as f:
                    snapshot_id = int(f.read().strip())
            except FileNotFoundError:
                # creator crashed (or is mid-race) between the CAS'd v1 and
                # the first hint write — the snapshot files are authoritative
                ids = cls._ids_on_disk(root)
                if not ids:
                    raise
                snapshot_id = ids[0]
            # The COMMIT POINT is the CAS-created snapshot file; the hint is
            # a read cache a crashed writer may have left one commit behind.
            # Snapshot files are complete by construction (link-after-fsync),
            # so rolling forward to the newest id on disk is always safe.
            newer = [i for i in cls._ids_on_disk(root) if i > snapshot_id]
            if newer:
                snapshot_id = max(newer)
        with open(cls._snap_path(root, snapshot_id), encoding="utf-8") as f:
            snap = Snapshot.from_json(json.load(f))
        return cls(root, snap)

    @classmethod
    def exists(cls, root: str) -> bool:
        return os.path.exists(os.path.join(root, "metadata", "version-hint.text"))

    @classmethod
    def load_or_create(cls, root: str, **create_kwargs) -> "TranscriptTable":
        if cls.exists(root):
            return cls.load(root)
        try:
            return cls.create(root, **create_kwargs)
        except FileExistsError:
            return cls.load(root)  # lost the create race — adopt the winner

    def _snapshot_ids_on_disk(self) -> list[int]:
        return self._ids_on_disk(self.root)

    def _rollback_points(self) -> list[int]:
        """Snapshot ids of rollback commits (sidecar written by rollback()):
        each one restores an EARLIER batch-id marker, so batch ids are only
        monotone non-decreasing WITHIN the segments these points delimit."""
        path = os.path.join(self._meta_dir, "rollback-points.json")
        if not os.path.exists(path):
            return []
        with open(path, encoding="utf-8") as f:
            return sorted(json.load(f))

    def load_snapshot_as_of_batch(self, batch_id: int) -> "TranscriptTable":
        """Time travel: NEWEST snapshot whose committed batch_id <= batch_id.

        Batch ids are monotone non-decreasing in snapshot ids within each
        rollback-free segment of the log (maintenance commits carry the
        parent's marker forward; a rollback commit restores an earlier
        marker and starts a new monotone segment). Segments are
        binary-searched newest-first: O(rollbacks * log n_commits) JSON
        reads — O(log n) for the common rollback-free log — and correct
        across rollbacks, where a whole-log binary search is not."""

        def _key(sid: int):
            with open(self._snap_path(self.root, sid), encoding="utf-8") as f:
                s = Snapshot.from_json(json.load(f))
            b = s.properties.get("batch_id")
            return (-1 if b is None else b), s

        ids = [i for i in self._snapshot_ids_on_disk()
               if i <= self.snapshot.snapshot_id]
        points = [p for p in self._rollback_points()
                  if p <= self.snapshot.snapshot_id]
        # segment boundaries: each rollback snapshot starts a new segment
        starts = [ids[0] if ids else 0, *points]
        segments = []  # (start_id, end_id) inclusive, newest last
        for i, st in enumerate(starts):
            end = starts[i + 1] - 1 if i + 1 < len(starts) else (
                ids[-1] if ids else -1
            )
            segments.append((st, end))
        for st, end in reversed(segments):
            seg = [i for i in ids if st <= i <= end]
            lo, hi, best = 0, len(seg) - 1, None
            while lo <= hi:
                mid = (lo + hi) // 2
                b, s = _key(seg[mid])
                if b <= batch_id:
                    best = s
                    lo = mid + 1
                else:
                    hi = mid - 1
            if best is not None:
                return TranscriptTable(self.root, best)
        raise ValueError(f"no snapshot at or before batch {batch_id}")

    def load_snapshot_as_of_timestamp(self, ts_us: int) -> "TranscriptTable":
        """Time travel by wall-clock: the NEWEST retained snapshot whose
        ``created_us`` <= ``ts_us``.

        ``created_us`` is stamped at commit time and snapshot ids are
        linearized by the CAS commit, so it is non-decreasing in snapshot id
        (ids, not clocks, are the source of truth; pathological writer clock
        skew would bisect to the newest id whose stamp fits, which is the
        only sane answer under skew). Unlike batch-id travel this needs no
        rollback segmentation — a rollback COMMIT is newer than everything
        before it — so one O(log n_commits) binary search suffices."""
        ids = [i for i in self._snapshot_ids_on_disk()
               if i <= self.snapshot.snapshot_id]
        lo, hi, best = 0, len(ids) - 1, None
        while lo <= hi:
            mid = (lo + hi) // 2
            with open(self._snap_path(self.root, ids[mid]), encoding="utf-8") as f:
                s = Snapshot.from_json(json.load(f))
            if s.created_us <= ts_us:
                best, lo = s, mid + 1
            else:
                hi = mid - 1
        if best is None:
            raise ValueError(
                f"no retained snapshot at or before ts_us={ts_us} "
                f"(oldest retained was created at "
                f"{'-' if not ids else 'a later time'})"
            )
        return TranscriptTable(self.root, best)

    # ------------------------------------------------------------ metadata
    @property
    def schema(self) -> T.StructType:
        return self.snapshot.schema

    @property
    def n_buckets(self) -> int:
        return self.snapshot.n_buckets

    @property
    def last_batch_id(self) -> int | None:
        return self.snapshot.properties.get("batch_id")

    @property
    def next_commit_seq(self) -> int:
        """Commit-sequence stamp for the NEXT commit's data directory name
        (parsed back by :func:`commit_seq_col` as the LWW recency
        tie-break). Normally ``snapshot_id + 1``; after a branch publish
        the snapshot carries a ``commit_seq_floor`` past every stamp the
        branch wrote into the shared data namespace, so post-publish
        commits stamp strictly above the staged files (commit recency must
        order them newer). ``next_commit_seq - 1`` is therefore the
        high-water mark of stamps ever used by this table's history."""
        floor = int(self.snapshot.properties.get("commit_seq_floor") or 0)
        return max(self.snapshot.snapshot_id, floor) + 1

    def _load_manifest(self, rel_path: str) -> dict[int, list[DataFileInfo]]:
        cached = self._manifest_cache.get(rel_path)
        if cached is None:
            with open(os.path.join(self.root, rel_path), encoding="utf-8") as f:
                raw = json.load(f)
            cached = {
                int(b): [DataFileInfo(**fd) for fd in fds] for b, fds in raw.items()
            }
            self._manifest_cache[rel_path] = cached
        return cached

    def files_in_buckets(self, buckets: set[int] | None = None) -> list[DataFileInfo]:
        """File entries for the given buckets (None = all). Reads only the
        manifest files those buckets reference — O(touched) per microbatch."""
        snap = self.snapshot
        if snap.legacy_files is not None:
            if buckets is None:
                return list(snap.legacy_files)
            return [f for f in snap.legacy_files if f.bucket in buckets]
        wanted = (
            sorted(int(b) for b in snap.manifests)
            if buckets is None
            else sorted(b for b in buckets if str(b) in snap.manifests)
        )
        out: list[DataFileInfo] = []
        for b in wanted:
            manifest = self._load_manifest(snap.manifests[str(b)])
            out.extend(manifest.get(b, []))
        return out

    @property
    def files(self) -> list[DataFileInfo]:
        """Full file listing (loads every referenced manifest — use
        ``files_in_buckets`` with a bucket set on hot paths)."""
        return self.files_in_buckets(None)

    def referenced_manifests(self) -> set[str]:
        return set(self.snapshot.manifests.values())

    def history(self, limit: int | None = None) -> list[Snapshot]:
        """Snapshots oldest-first; ``limit`` returns only the newest N
        without parsing the rest of the log."""
        ids = [i for i in self._snapshot_ids_on_disk()
               if i <= self.snapshot.snapshot_id]
        if limit is not None:
            ids = ids[-limit:]
        out = []
        for i in ids:
            with open(self._snap_path(self.root, i), encoding="utf-8") as f:
                out.append(Snapshot.from_json(json.load(f)))
        return out

    # ---------------------------------------------------------------- scan
    def delta_file_counts(self, buckets: set[int] | None = None) -> dict[int, int]:
        """Distinct delta COMMITS per bucket (a commit may write several files
        per bucket via write-salting; compaction policy counts commits)."""
        commits: dict[int, set[str]] = {}
        for f in self.files_in_buckets(buckets):
            if f.kind == "delta":
                commit_dir = f.path.split("/")[1] if "/" in f.path else f.path
                commits.setdefault(f.bucket, set()).add(commit_dir)
        return {b: len(s) for b, s in commits.items()}

    def ts_pruned_files(
        self, lo_us: int, buckets: set[int] | None = None,
        files: list[DataFileInfo] | None = None,
    ) -> tuple[list[DataFileInfo], int]:
        """(files a time-windowed scan must read, files pruned): every file
        whose footer ``ts_max`` is below the window start can be skipped
        EXACTLY, because LWW supersession is monotone in the leading order
        column — a version that beats an in-window version carries
        ``ts >= window start``, so files entirely below the start can
        neither hold the current winner of an in-window key nor supersede
        one. Files lacking ts stats (pre-upgrade manifests) are kept. No
        upper-bound pruning: a file entirely ABOVE the window may supersede
        in-window keys and must be read for resolution."""
        if files is None:
            files = self.files_in_buckets(buckets)
        kept = [f for f in files if f.ts_max_us is None or f.ts_max_us >= lo_us]
        return kept, len(files) - len(kept)

    def scan(
        self,
        spark: SparkSession,
        with_meta: bool = False,
        buckets: set[int] | None = None,
        files: list[DataFileInfo] | None = None,
        ts_between: tuple | None = None,
    ) -> DataFrame:
        """Read the table (optionally pruned to buckets, or to an explicit
        file subset chosen by the caller, e.g. the conv_id-range pruning in
        MERGE) as a DataFrame.

        Old data files written before a schema widening lack the new columns;
        reading with the snapshot's explicit physical schema null-fills them
        (additive-evolution read path, BASELINE.json:6).

        With merge-on-read delta files present, a key may have several
        versions across base+deltas; ``with_meta=True`` returns the raw
        multi-version rows (the MERGE operator's fused aggregation resolves
        them along with the batch), while the logical scan LWW-reduces per
        key by the snapshot's order columns and drops tombstones.

        ``ts_between=(lo, hi)`` (epoch-µs ints, or datetimes — naive means
        UTC) returns the current-state rows whose ``ts`` falls in the
        closed window, skipping every data file whose footer ts_max is
        below ``lo`` via manifest stats (see :meth:`ts_pruned_files` for
        the exactness argument — the common "last N days" analytic scan
        reads O(recent files), not the table).

        Raises :class:`SnapshotExpiredError` when this reader's snapshot was
        GC'd by ``expire_snapshots`` since it was loaded — a clean plan-time
        error instead of FileNotFoundError mid-job on half-GC'd files.
        """
        self._assert_retained()
        lo_us = hi_us = None
        if ts_between is not None:
            if with_meta:
                raise ValueError(
                    "ts_between requires the resolved logical scan "
                    "(with_meta=False): raw multi-version rows cannot be "
                    "time-filtered exactly"
                )
            lo_us, hi_us = (_epoch_us(ts_between[0]), _epoch_us(ts_between[1]))
            if lo_us is None or hi_us is None:
                raise ValueError(f"unparseable ts_between: {ts_between!r}")
        phys = physical_schema(self.schema, tuple(self.snapshot.order_cols))
        if files is None:
            files = self.files_in_buckets(buckets)
        if lo_us is not None:
            files, _ = self.ts_pruned_files(lo_us, files=files)
        if not files:
            df = spark.createDataFrame([], phys)
        else:
            paths = [os.path.join(self.root, f.path) for f in files]
            df = spark.read.schema(phys).parquet(*paths)
        if with_meta:
            return df
        if any(f.kind == "delta" for f in files):
            df = resolve_stored_versions(
                df, list(self.snapshot.key_cols), self.snapshot.order_cols
            )
        df = df.filter(~F.col("_deleted")).drop(*META_COLS)
        if lo_us is not None:
            df = df.filter(
                (F.col("ts") >= F.timestamp_micros(F.lit(lo_us)))
                & (F.col("ts") <= F.timestamp_micros(F.lit(hi_us)))
            )
        return df

    def read_conversation(self, spark: SparkSession, conv_id: str) -> DataFrame:
        """Point lookup: one conversation's live turns.

        Prunes to the conv's hash bucket via the manifest, then drops files
        whose footer (conv_id min/max) excludes the key — O(bucket slice)
        I/O instead of a table scan. This is the engine's analog of the
        reference's identifier lookup (SURVEY.md §2.3 J1) on the read side."""
        # driver-side twin of bucket_expr (verified bit-exact vs Spark's
        # xxhash64 in tests) — no 1-row Spark job per lookup
        self._assert_retained()
        from sfr_ingest_pipeline_spark.functions.xxh import bucket_of

        from sfr_ingest_pipeline_spark.table.bloom import BloomReader, hash_keys

        bucket = bucket_of(conv_id, self.n_buckets)
        reader = BloomReader(self.root)
        hashed = hash_keys([conv_id])
        files = [
            f for f in self.files_in_buckets({bucket})
            if (f.conv_id_min is None or f.conv_id_min <= conv_id)
            and (f.conv_id_max is None or conv_id <= f.conv_id_max)
            and reader.may_contain_any(f, hashed)
        ]
        phys = physical_schema(self.schema, tuple(self.snapshot.order_cols))
        if not files:
            df = spark.createDataFrame([], phys)
        else:
            df = spark.read.schema(phys).parquet(
                *[os.path.join(self.root, f.path) for f in files]
            )
        df = df.filter(F.col("conv_id") == conv_id)
        if any(f.kind == "delta" for f in files):
            df = resolve_stored_versions(
                df, list(self.snapshot.key_cols), self.snapshot.order_cols
            )
        return (
            df.filter(~F.col("_deleted")).drop(*META_COLS)
            .orderBy("turn_idx")
        )

    def changes_between(
        self,
        spark: SparkSession,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
        pre_post: bool = False,
        with_meta: bool = False,
    ) -> DataFrame:
        """Incremental changelog scan (Iceberg-CDC analog): the NET per-key
        changes between two committed snapshots, as rows tagged
        ``_change_type`` in {insert, update, delete} — what a downstream
        consumer tails instead of re-reading the table.

        With ``pre_post=True`` each update fans out to TWO rows —
        ``update_preimage`` (old payload) and ``update_postimage`` (new
        payload) — the Delta-CDF / Flink-retract shape. Every change row is
        then a signed tuple (+row for insert/postimage, −row for
        delete/preimage), which makes distributive aggregates over the table
        maintainable purely from the changelog (``streaming/incremental.py``).

        Incremental by construction: every key that changed was written by
        an INGEST commit in the range, so candidate keys come from the
        union of each ingest step's own added files (MoR deltas carry
        exactly the batch winners; compacting rewrites contain their
        bucket's keys) — maintenance rewrites (compact/recluster/rebucket) move
        bytes without changing logical state and contribute NO candidates,
        so a compaction landing mid-range no longer inflates the scan to
        every key it rewrote. Old/new state then resolves restricted to
        the candidate files' buckets + conv_id-range envelope and
        semi-joined to candidate keys — O(changed data), never O(table).
        When the chain cannot prove that shortcut (a rollback in range —
        logical change with no added files — or a bucket-layout change
        mid-range), candidates fall back to the files present in exactly
        ONE of the two snapshots: a key whose resolved state differs must
        have a version row in such a file on at least one side, so the
        fallback is exact too (and catches MoR rollbacks the added-only
        rule would miss). Compacting rewrites carry unchanged keys; the
        old-vs-new null-safe payload compare drops them. Additive schema
        evolution between the snapshots null-fills the old side to the new
        logical schema.

        ``with_meta=True`` (the replication feed, ``table/sync.py``) emits
        the SAME change set annotated with the LWW order a downstream
        replica must apply each change at: ``event_seq`` — the new winner's
        sequence (for deletes: the tombstone's own sequence, i.e. the
        delete event's; when the key vanished with no tombstone — a
        rollback in range — the old winner's sequence + 1, a synthetic
        order no real event preceded) — and ``_delete_ts``, the delete
        event's timestamp (null on insert/update; delete rows keep the OLD
        payload per the changelog contract, so the delete's own order must
        travel out of band). Applying each row as an upsert/delete at
        exactly that order makes a replica converge to the source's
        logical state, with re-applied spans dying on the state-wins-ties
        rule. Mutually exclusive with ``pre_post``.
        """
        if pre_post and with_meta:
            raise ValueError("pre_post and with_meta are mutually exclusive")
        new_t = (
            self if to_snapshot_id is None
            else TranscriptTable.load(self.root, to_snapshot_id)
        )
        old_t = TranscriptTable.load(self.root, from_snapshot_id)
        key_cols = list(new_t.snapshot.key_cols)
        logical = new_t.schema
        payload = [f.name for f in logical.fields if f.name not in key_cols]

        added = changelog_candidate_files(self.root, old_t, new_t)
        change_col = F.col("_change_type")
        empty = T.StructType(
            [f for f in logical.fields]
            + [T.StructField("_change_type", T.StringType())]
            + (
                [
                    T.StructField("event_seq", T.LongType()),
                    T.StructField("_delete_ts", T.TimestampType()),
                ]
                if with_meta
                else []
            )
        )
        if not added:
            return spark.createDataFrame([], empty)

        phys_new = physical_schema(logical, tuple(new_t.snapshot.order_cols))
        cand = (
            spark.read.schema(phys_new)
            .parquet(*[os.path.join(self.root, f.path) for f in added])
            .select(*key_cols)
            .distinct()
        )
        def _aligned_state(t: "TranscriptTable") -> DataFrame:
            # candidate semi-join BEFORE version resolution: per-key LWW only
            # needs that key's own rows, so restricting to candidate keys
            # first is exact and cuts the resolve aggregation from every key
            # in the read files to O(candidate rows) — measured 4x on a
            # localized wave into a hot Zipf band (BENCH/SCALE.md); AQE
            # turns the semi join into a broadcast when candidates are small
            files = changelog_state_files(t, added, new_t)
            df = t.scan(spark, files=files, with_meta=True)
            need_resolve = any(f.kind == "delta" for f in files)
            if need_resolve:
                # _cseq comes from input_file_name(), which is illegal above
                # a multi-source join — stamp it before the semi join
                df = df.withColumn("_cseq", commit_seq_col())
            df = df.join(cand, key_cols, "left_semi")
            if need_resolve:
                df = resolve_stored_versions(
                    df, list(t.snapshot.key_cols), t.snapshot.order_cols
                )
            if with_meta:
                # keep tombstones: a delete change's apply-order is the
                # tombstone's own (ts, event_seq)
                df = df.drop("_del_hw")
            else:
                df = df.filter(~F.col("_deleted")).drop(*META_COLS)
            have = set(df.columns)
            return df.select(
                *[
                    F.col(f.name) if f.name in have
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in logical.fields
                ],
                *([F.col("event_seq"), F.col("_deleted")] if with_meta else []),
            )
        new_state = _aligned_state(new_t)
        old_state = _aligned_state(old_t)

        meta_n = (
            [
                F.col("event_seq").alias("_seq_n"),
                F.col("_deleted").alias("_dead_n"),
            ]
            if with_meta
            else []
        )
        meta_o = (
            [
                F.col("event_seq").alias("_seq_o"),
                F.col("_deleted").alias("_dead_o"),
            ]
            if with_meta
            else []
        )
        n = new_state.select(
            *key_cols,
            F.struct(*[F.col(c) for c in payload]).alias("_new"),
            *meta_n,
        )
        o = old_state.select(
            *key_cols,
            F.struct(*[F.col(c) for c in payload]).alias("_old"),
            *meta_o,
        )
        joined = n.join(o, key_cols, "full_outer")
        if with_meta:
            # a row exists iff its side's struct is non-null; "live" also
            # requires it not be a tombstone version
            old_live = F.col("_old").isNotNull() & ~F.coalesce(
                F.col("_dead_o"), F.lit(True)
            )
            new_live = F.col("_new").isNotNull() & ~F.coalesce(
                F.col("_dead_n"), F.lit(True)
            )
            typed = joined.withColumn(
                "_change_type",
                F.when(new_live & ~old_live, "insert")
                .when(old_live & ~new_live, "delete")
                .when(
                    old_live
                    & new_live
                    & ~F.col("_new").eqNullSafe(F.col("_old")),
                    "update",
                ),
            ).filter(change_col.isNotNull())
            tomb = F.col("_new").isNotNull() & F.col("_dead_n")
            seq = F.when(
                change_col == "delete",
                F.when(tomb, F.col("_seq_n")).otherwise(
                    F.col("_seq_o") + F.lit(1)
                ),
            ).otherwise(F.col("_seq_n"))
            if "ts" in payload:
                del_ts = F.when(
                    change_col == "delete",
                    F.when(tomb, F.col("_new").getField("ts")).otherwise(
                        F.col("_old").getField("ts")
                    ),
                )
            else:  # pragma: no cover - transcript schemas always carry ts
                del_ts = F.lit(None).cast("timestamp")
            carrier = F.when(change_col == "delete", F.col("_old")).otherwise(
                F.col("_new")
            )
            return typed.select(
                *key_cols,
                *[carrier.getField(c).alias(c) for c in payload],
                change_col,
                seq.cast("long").alias("event_seq"),
                del_ts.cast("timestamp").alias("_delete_ts"),
            )
        typed = joined.withColumn(
            "_change_type",
            F.when(F.col("_old").isNull() & F.col("_new").isNotNull(), "insert")
            .when(F.col("_new").isNull() & F.col("_old").isNotNull(), "delete")
            .when(~F.col("_new").eqNullSafe(F.col("_old")), "update"),
        ).filter(change_col.isNotNull())
        if pre_post:
            tagged = lambda tag, img: F.struct(  # noqa: E731
                F.lit(tag).alias("t"), F.col(img).alias("p")
            )
            fanout = (
                F.when(change_col == "insert", F.array(tagged("insert", "_new")))
                .when(change_col == "delete", F.array(tagged("delete", "_old")))
                .otherwise(
                    F.array(
                        tagged("update_preimage", "_old"),
                        tagged("update_postimage", "_new"),
                    )
                )
            )
            return typed.select(
                *key_cols, F.explode(fanout).alias("_e")
            ).select(
                *key_cols,
                *[F.col("_e.p").getField(c).alias(c) for c in payload],
                F.col("_e.t").alias("_change_type"),
            )
        carrier = F.when(change_col == "delete", F.col("_old")).otherwise(
            F.col("_new")
        )
        return typed.select(
            *key_cols,
            *[carrier.getField(c).alias(c) for c in payload],
            change_col,
        )

    # -------------------------------------------------------------- commit
    def commit(
        self,
        replace_buckets: set[int],
        new_files: list[DataFileInfo],
        properties: dict,
        schema: T.StructType | None = None,
        carry_files: set[str] | None = None,
        n_buckets: int | None = None,
    ) -> "TranscriptTable":
        """Commit a child snapshot.

        * files of ``replace_buckets`` are replaced by the ``new_files``
          targeting them — except paths named in ``carry_files``, which
          survive the replace (the conv_id-range-pruned files MERGE never
          read; their conversations are disjoint from the rewrite by
          construction, so carrying them is exact);
        * buckets NOT in ``replace_buckets`` keep all their files and gain
          any ``new_files`` targeting them (merge-on-read delta appends);
        * ONE manifest file is written holding the post-commit file lists of
          every touched bucket; untouched buckets re-reference the parent's
          manifests — the snapshot JSON stays O(n_buckets);
        * the COMMIT POINT is the CAS (create-exclusive) write of the
          snapshot JSON keyed by its id: two writers racing the same child
          id cannot both win. The loser reloads the winner's state and
          REBASES when the winner is provably disjoint (untouched buckets,
          same schema/layout, batch marker rules below) or raises
          :class:`CommitConflictError`. ``version-hint.text`` is a
          monotonically-advanced read cache, not the commit point — readers
          roll forward past a stale hint (see :meth:`load`);
        * ``n_buckets`` (bucket-layout evolution) is only legal when EVERY
          bucket is replaced — a partial rewrite under a new hash layout
          would leave files whose bucket ids mean the old layout.

        Rebase rules (optimistic concurrency — ingest racing maintenance):
        a commit rebases onto a concurrent winner iff the winner left every
        bucket this commit touches byte-identical (file sets unchanged), the
        schema / bucket layout / key+order cols are unchanged, and the batch
        marker either did not move (for marker-advancing ingest commits) or
        is adopted from the winner (for maintenance commits that carry the
        parent's marker forward — the marker must never regress, or replayed
        batches would double-count).
        """
        base = self  # the state this operation actually read
        carry = carry_files or set()
        new_by_bucket: dict[int, list[DataFileInfo]] = {}
        for f in new_files:
            new_by_bucket.setdefault(f.bucket, []).append(f)
        touched = set(replace_buckets) | set(new_by_bucket)
        props = dict(properties)

        parent: "TranscriptTable" = self
        for _attempt in range(10):
            cur = parent.snapshot
            if n_buckets is not None and n_buckets != cur.n_buckets:
                if set(replace_buckets) != set(range(cur.n_buckets)):
                    raise ValueError(
                        "bucket-layout change requires replacing every bucket"
                    )
            post: dict[int, list[DataFileInfo]] = {}
            for b in touched:
                old = parent.files_in_buckets({b})
                if b in replace_buckets:
                    keep = [f for f in old if f.path in carry]
                else:
                    keep = old
                post[b] = keep + new_by_bucket.get(b, [])

            if cur.legacy_files is None:
                manifests = dict(cur.manifests)
            else:
                # migrating a legacy snapshot: materialize untouched buckets
                # into the new manifest too (one-time O(files) rewrite)
                manifests = {}
                for f in cur.legacy_files:
                    if f.bucket not in touched:
                        post.setdefault(f.bucket, []).append(f)
            if post:
                mf_rel = "/".join([
                    "metadata", "manifests",
                    f"mf-{cur.snapshot_id + 1:08d}-{uuid.uuid4().hex[:8]}.json",
                ])
                os.makedirs(
                    os.path.join(self.root, "metadata", "manifests"), exist_ok=True
                )
                _atomic_write_json(
                    os.path.join(self.root, mf_rel),
                    {str(b): [asdict(f) for f in fs] for b, fs in post.items()},
                )
                for b, fs in post.items():
                    if fs:
                        manifests[str(b)] = mf_rel
                    else:
                        manifests.pop(str(b), None)
            else:
                for b in touched:
                    manifests.pop(str(b), None)

            schema_json = (schema or base.schema).jsonValue()
            schema_id = cur.schema_id + (
                0 if schema_json == cur.schema_json else 1
            )
            # Commit-seq floor propagation: the writer stamped its data dir
            # with base.next_commit_seq (see commit_dir_rel). Record the
            # high-water mark when it exceeds the natural snapshot-id stamp
            # so later commits (incl. after CAS rebases) stamp above it and
            # commit recency stays monotone in commit order.
            stamp_hwm = max(
                base.next_commit_seq,
                int(props.get("commit_seq_floor") or 0),
                int(cur.properties.get("commit_seq_floor") or 0),
            )
            if stamp_hwm > cur.snapshot_id + 1:
                props["commit_seq_floor"] = stamp_hwm
            else:
                props.pop("commit_seq_floor", None)
            snap = Snapshot(
                snapshot_id=cur.snapshot_id + 1,
                parent_id=cur.snapshot_id,
                created_us=int(time.time() * 1e6),
                schema_id=schema_id,
                schema_json=schema_json,
                n_buckets=n_buckets if n_buckets is not None else cur.n_buckets,
                manifests=manifests,
                properties=props,
                key_cols=list(cur.key_cols),
                order_cols=list(cur.order_cols),
            )
            try:
                # COMMIT POINT (CAS):
                _atomic_create_json(
                    self._snap_path(self.root, snap.snapshot_id), snap.to_json()
                )
            except FileExistsError:
                # a concurrent writer won this snapshot id (a failed
                # attempt's manifest file is orphaned — expire GCs it)
                latest = TranscriptTable.load(self.root)
                if latest.snapshot.snapshot_id <= cur.snapshot_id:
                    ids = self._ids_on_disk(self.root)
                    latest = TranscriptTable.load(self.root, max(ids))
                props = _rebase_or_raise(base, latest, touched, props)
                parent = latest
                continue
            self._advance_hint(snap.snapshot_id)
            return TranscriptTable(self.root, snap)
        raise CommitConflictError(
            "commit lost the CAS race 10 times in a row — writer storm; "
            "re-run the operation"
        )

    def _assert_retained(self) -> None:
        """A snapshot whose metadata file is gone was expired: raise the
        dedicated error rather than letting a Spark job discover missing
        data files one task at a time. (A GC racing BETWEEN this check and
        job execution is still the caller's retention-contract violation —
        the check makes the common stale-reader case deterministic.)"""
        if not os.path.exists(self._snap_path(self.root, self.snapshot.snapshot_id)):
            raise SnapshotExpiredError(
                f"snapshot {self.snapshot.snapshot_id} of table "
                f"{self.root!r} was expired by snapshot GC; reload the "
                "table and read a retained snapshot (raise keep_last if "
                "long-running readers need deeper history)"
            )

    def _advance_hint(self, snapshot_id: int) -> None:
        """Advance the version-hint read cache, never regressing it: a slow
        writer for an older id must not shadow a newer commit (readers roll
        forward regardless — this only keeps the common path O(1))."""
        hint_path = os.path.join(self._meta_dir, "version-hint.text")
        try:
            with open(hint_path, encoding="utf-8") as f:
                cur = int(f.read().strip())
        except (FileNotFoundError, ValueError):
            cur = 0
        if snapshot_id > cur:
            _atomic_write_text(hint_path, str(snapshot_id))

    def rollback(self, to_snapshot_id: int) -> "TranscriptTable":
        """Restore the table to an earlier snapshot's state as a NEW commit
        (Iceberg rollback semantics: history moves forward, data moves back).

        The child snapshot adopts the target's manifests, schema, and
        properties — including its batch-id marker, so change batches applied
        after the target count as un-applied again and an idempotent
        re-delivery (or a replay from a reset checkpoint) re-applies them.
        No data files move; snapshot-expiry GC keeps every file the retained
        history references, rolled-back-over or not."""
        target = TranscriptTable.load(self.root, to_snapshot_id).snapshot
        cur = self.snapshot
        if target.legacy_files is not None:
            raise ValueError("cannot roll back to a pre-sharding legacy snapshot")
        props = dict(target.properties)
        props["maintenance"] = {
            "op": "rollback",
            "from_snapshot": cur.snapshot_id,
            "to_snapshot": to_snapshot_id,
        }
        # Stamps used AFTER the target must stay below future stamps even
        # though we restore the target's properties: carry the current
        # head's stamp high-water mark, not the target's stale floor.
        floor = max(
            int(target.properties.get("commit_seq_floor") or 0),
            int(cur.properties.get("commit_seq_floor") or 0),
        )
        if floor > cur.snapshot_id + 1:
            props["commit_seq_floor"] = floor
        else:
            props.pop("commit_seq_floor", None)
        snap = Snapshot(
            snapshot_id=cur.snapshot_id + 1,
            parent_id=cur.snapshot_id,
            created_us=int(time.time() * 1e6),
            schema_id=target.schema_id,
            schema_json=target.schema_json,
            n_buckets=target.n_buckets,
            manifests=dict(target.manifests),
            properties=props,
            key_cols=list(target.key_cols),
            order_cols=list(target.order_cols),
        )
        # record the monotonicity break BEFORE the commit point so time
        # travel by batch id stays exact (load_snapshot_as_of_batch segments
        # its binary search at these ids); a crash between the two writes
        # leaves a harmless extra boundary, never a missed one
        points = set(self._rollback_points())
        points.add(snap.snapshot_id)
        _atomic_write_json(
            os.path.join(self._meta_dir, "rollback-points.json"),
            sorted(points),
        )
        try:
            # COMMIT POINT (CAS) — rollback does not rebase: restoring an
            # old state over a concurrent commit is exactly the race a CAS
            # must surface to a human
            _atomic_create_json(
                self._snap_path(self.root, snap.snapshot_id), snap.to_json()
            )
        except FileExistsError:
            raise CommitConflictError(
                f"rollback lost the commit race for snapshot "
                f"{snap.snapshot_id}; reload and retry deliberately"
            ) from None
        self._advance_hint(snap.snapshot_id)
        return TranscriptTable(self.root, snap)

    # ------------------------------------------------------- bucketed write
    def write_bucketed(
        self, df: DataFrame, op: str, config: EngineConfig, buckets,
        base_buckets, *, n_buckets: int | None = None,
        project: Callable[[DataFrame], DataFrame] | None = None,
    ) -> list[DataFileInfo]:
        """Write physical-schema rows as one commit's bucketed data files and
        harvest them; an empty write leaves no dir behind. ``buckets`` are
        the buckets ``df`` may hold, or None when the caller leaves them
        unsized (DML, whose rows may land in any bucket). Files in
        ``base_buckets`` are base files (full bucket state), all others are
        deltas. ``n_buckets`` overrides the table's layout (rebucket).

        A write with no base bucket, or to an unknown bucket set, puts each
        bucket in one file. Otherwise rows are write-salted on the key into
        ``n_wsalt = min(8, shuffle_partitions // n)`` groups per bucket so a
        rewrite uses the cores. Each (bucket, salt) group has the dense id
        ``bucket * n_wsalt + salt``, and the id modulo
        ``shuffle_partitions`` is its task: the write runs exactly
        ``shuffle_partitions`` tasks whatever the bucket count, so it pays
        per-task overhead per core, not per group, and no two groups of a
        bucket share a task (a bucket with non-empty salts writes exactly
        ``n_wsalt`` files). A group lands wholly in one task, so a bucket's
        rows never depend on the task count. With every bucket written,
        each task holds ``floor(G / P)`` or ``ceil(G / P)`` of the ``G``
        groups.

        ``project`` is a DataFrame -> DataFrame projection applied in the
        write tasks, after the exchange and before the sort: the merge runs
        its normalize/redact UDFs there, on every write task instead of in
        the aggregate's reduce. It must keep the physical columns and
        ``_bucket``. The ``_bucket``-leading sort meets the partitioned
        writer's ordering requirement, so it adds no sort."""
        if buckets is None or not base_buckets:
            n_wsalt = 1
        else:
            n_wsalt = max(1, min(8, config.shuffle_partitions // len(buckets)))
        key_cols = list(self.snapshot.key_cols)
        commit_rel = commit_dir_rel(op, self.next_commit_seq)
        group = F.col("_bucket")
        if n_wsalt > 1:
            salt = F.pmod(F.xxhash64(*[F.col(k) for k in key_cols]), F.lit(n_wsalt))
            group = (group * n_wsalt + salt).cast("int")
        placed = df.withColumn(
            "_bucket", bucket_expr(F.col("conv_id"), n_buckets or self.n_buckets)
        ).repartitionById(config.shuffle_partitions, group)
        if project is not None:
            placed = project(placed)
        (
            placed.sortWithinPartitions("_bucket", *key_cols)
            .write.partitionBy("_bucket").mode("overwrite")
            .parquet(os.path.join(self.root, commit_rel))
        )
        files = self.harvest_files(
            commit_rel, base_buckets, bloom_fpp=config.file_bloom_fpp
        )
        if not files:
            shutil.rmtree(os.path.join(self.root, commit_rel), ignore_errors=True)
        return files

    # -------------------------------------------------------- file harvest
    def harvest_files(
        self, commit_dir_rel: str, base_buckets, *,
        bloom_fpp: float | None, bloom_max_bytes: int = 1 << 17,
    ) -> list[DataFileInfo]:
        """Collect DataFileInfo for files written under data/<commit_dir_rel>/
        (layout: _bucket=K/part-*.parquet from a partitionBy write), kind
        "base" when K is in ``base_buckets`` and "delta" otherwise. Reads
        only parquet footers (row counts + conv_id min/max stats) plus the
        bit-packed _deleted chunk for an exact tombstone count.

        ``bloom_fpp`` additionally builds a per-file conv_id Bloom filter
        (table/bloom.py) from the file's DICTIONARY pages (distinct convs;
        the string values are read dictionary-encoded, so the driver never
        materializes the full column) into one sidecar blob per commit.
        None disables. Only ``kind == "delta"`` files get filters: blooms
        exist to skip the many small MoR/DML deltas a point probe misses,
        while a base file is its bucket's whole state — a probe almost
        always hits it and compaction reads it regardless, so harvesting
        its (large) dictionary would be pure ingest-path overhead
        (measured 30-45%% on the 8.4M-event bench when base files were
        included; delta-only is noise-level)."""
        from sfr_ingest_pipeline_spark.table.bloom import BloomSidecarWriter

        base = os.path.join(self.root, commit_dir_rel)
        bw = BloomSidecarWriter(self.root) if bloom_fpp else None
        out: list[DataFileInfo] = []
        for dirpath, _dirnames, filenames in os.walk(base):
            part = os.path.basename(dirpath)
            if not part.startswith("_bucket="):
                continue
            bucket = int(part.split("=", 1)[1])
            for fn in sorted(filenames):
                if not fn.endswith(".parquet"):
                    continue
                full = os.path.join(dirpath, fn)
                pf = pq.ParquetFile(
                    full,
                    read_dictionary=["conv_id"] if bw is not None else None,
                )
                md = pf.metadata
                rows = md.num_rows
                cmin = cmax = None
                tmin = tmax = None
                live = rows
                schema_names = [md.schema.column(i).name for i in range(md.num_columns)]
                conv_idx = schema_names.index("conv_id") if "conv_id" in schema_names else None
                ts_idx = schema_names.index("ts") if "ts" in schema_names else None
                for rg in range(md.num_row_groups):
                    if conv_idx is not None:
                        st = md.row_group(rg).column(conv_idx).statistics
                        if st is not None and st.has_min_max:
                            mn, mx = st.min, st.max
                            cmin = mn if cmin is None else min(cmin, mn)
                            cmax = mx if cmax is None else max(cmax, mx)
                    if ts_idx is not None:
                        st = md.row_group(rg).column(ts_idx).statistics
                        if st is not None and st.has_min_max:
                            lo, hi = _epoch_us(st.min), _epoch_us(st.max)
                            if lo is not None:
                                tmin = lo if tmin is None else min(tmin, lo)
                            if hi is not None:
                                tmax = hi if tmax is None else max(tmax, hi)
                if "_deleted" in schema_names:
                    # exact live count: the bit-packed boolean chunk is tiny
                    # (~rows/8 bytes) so counting tombstones here is cheaper
                    # than a Spark job and keeps the documented semantics
                    # ('rows minus tombstones') honest
                    dcol = pf.read(columns=["_deleted"]).column("_deleted")
                    import pyarrow.compute as pc

                    live = rows - int(
                        pc.sum(pc.fill_null(dcol, False).cast("int64")).as_py() or 0
                    )
                rel = os.path.relpath(full, self.root)
                kind = "base" if bucket in base_buckets else "delta"
                bloom_entry = None
                if (
                    bw is not None and conv_idx is not None and rows > 0
                    and kind == "delta"
                ):
                    import pyarrow as pa
                    import pyarrow.compute as pc

                    col = pf.read(columns=["conv_id"]).column("conv_id")
                    distinct: set = set()
                    for chunk in col.chunks:
                        if pa.types.is_dictionary(chunk.type):
                            # dictionary VALUES, never the full column —
                            # a superset of the referenced keys only adds
                            # a few false-positive bits
                            distinct.update(chunk.dictionary.to_pylist())
                        else:  # pragma: no cover - spark writes dict-encoded
                            distinct.update(pc.unique(chunk).to_pylist())
                    bloom_entry = bw.add(distinct, bloom_fpp, bloom_max_bytes)
                info = DataFileInfo(
                    path=rel, bucket=bucket, rows=rows, live_rows=live,
                    conv_id_min=cmin, conv_id_max=cmax,
                    ts_min_us=tmin, ts_max_us=tmax, kind=kind,
                )
                if bloom_entry is not None:
                    (info.bloom_path, info.bloom_off,
                     info.bloom_len, info.bloom_k) = bloom_entry
                out.append(info)
        if bw is not None:
            bw.flush()
        return out


def changelog_state_files(
    t: "TranscriptTable",
    added: list[DataFileInfo],
    new_t: "TranscriptTable",
) -> list[DataFileInfo]:
    """State files a changelog scan must read on snapshot ``t`` to resolve
    the keys contained in the ``added`` files of ``new_t``.

    Two metadata-only pruning layers (the read-side twin of the MERGE's
    write-side pruning):

    * bucket pruning — only buckets the added files touch can hold changed
      keys (skipped across a rebucket: old-layout bucket ids are
      incomparable, the candidate-key semi join still bounds the output);
    * conv_id-range envelope — every changed key lies inside
      [min, max] of the added files' manifest stats, so a state file whose
      own range cannot overlap the envelope is provably candidate-free.
      After a conv-localized wave into a reclustered table this turns the
      state resolve from O(touched buckets) into O(touched files). Files
      or envelopes without stats stay conservative (kept / no pruning).

    Exactness under merge-on-read: a pruned file cannot contain any
    candidate key, so per-key LWW resolution over the remaining files is
    unchanged for every candidate; non-candidate keys are discarded by the
    semi join regardless of how partially they resolved.
    """
    buckets = {f.bucket for f in added}
    prune = buckets if t.n_buckets == new_t.n_buckets else None
    files = t.files_in_buckets(prune)
    if all(f.conv_id_min is not None and f.conv_id_max is not None
           for f in added):
        lo = min(f.conv_id_min for f in added)
        hi = max(f.conv_id_max for f in added)
        files = [
            f for f in files
            if (f.conv_id_max is None or f.conv_id_max >= lo)
            and (f.conv_id_min is None or f.conv_id_min <= hi)
        ]
    return files


def changelog_candidate_files(
    root: str,
    old_t: "TranscriptTable",
    new_t: "TranscriptTable",
) -> list[DataFileInfo]:
    """Files whose rows bound the keys that can have changed between two
    snapshots (the candidate sources of :meth:`TranscriptTable.changes_between`).

    Fast path — walk the commit chain (from, to] and union each INGEST
    step's own added files: every logical change was applied by exactly one
    ingest commit and lives in that commit's new files, while maintenance
    rewrites (compact/recluster/rebucket) move bytes without changing
    logical state and are skipped. Files absorbed by a later compaction are
    still readable: their writing snapshot is retained history, and
    ``expire_snapshots`` only GCs files no retained snapshot references.

    Exact fallback — when the chain contains a rollback (logical change
    with NO added files: it re-references older files, so the added-only
    rule under merge-on-read would silently miss un-done delta versions),
    a bucket-layout change (mid-chain file bucket ids are incomparable, so
    pruning metadata derived from them would be wrong), or a gap the
    snapshot log cannot bridge: the files present in exactly ONE of the two
    snapshots. A key whose resolved state differs must have a version row
    in such a file on at least one side — if every version row of a key
    sat in shared files, both sides would resolve identical row sets.
    """
    chain: list[TranscriptTable] = []
    sid = new_t.snapshot.snapshot_id
    fast = True
    while sid != old_t.snapshot.snapshot_id:
        try:
            t = TranscriptTable.load(root, sid)
        except Exception:
            fast = False
            break
        chain.append(t)
        op = (t.snapshot.properties.get("maintenance") or {}).get("op")
        if op == "rollback" or t.n_buckets != new_t.n_buckets:
            fast = False
            break
        parent = t.snapshot.parent_id
        if parent is None or parent < old_t.snapshot.snapshot_id:
            fast = False
            break
        sid = parent
    if fast:
        out: list[DataFileInfo] = []
        seen: set[str] = set()
        # chain is child->parent ordered, so each element's parent is the
        # next element (old_t closes the chain) — no snapshot loads twice
        parents = chain[1:] + [old_t]
        for t, parent in zip(chain, parents):
            if t.snapshot.properties.get("maintenance"):
                continue
            parent_files = {f.path for f in parent.files}
            for f in t.files:
                if f.path not in parent_files and f.path not in seen:
                    seen.add(f.path)
                    out.append(f)
        return out
    old_paths = {f.path for f in old_t.files}
    new_paths = {f.path for f in new_t.files}
    return [f for f in new_t.files if f.path not in old_paths] + [
        f for f in old_t.files if f.path not in new_paths
    ]


# ----------------------------------------------------------------- tags
# Named immutable refs (Iceberg tag analog): a tag pins one snapshot id
# under a human name — the reproducibility primitive a training-data
# pipeline needs ("corpus build 2026-08-17 reads tag q3-freeze"; re-running
# against the tag re-reads byte-identical state). Each tag is its OWN file
# under metadata/refs/, created with O_EXCL: creation is atomic and a tag
# can never be silently repointed (delete + recreate is the explicit,
# auditable way to move one). ``expire_snapshots`` retains every tagged
# snapshot and its files regardless of ``keep_last``.

_TAG_NAME_RE = r"^[A-Za-z0-9][A-Za-z0-9._-]{0,99}$"


def _tag_path(root: str, name: str) -> str:
    import re

    if not re.match(_TAG_NAME_RE, name):
        raise ValueError(
            f"invalid tag name {name!r} (want {_TAG_NAME_RE})"
        )
    return os.path.join(root, "metadata", "refs", f"tag-{name}.json")


def create_tag(root: str, name: str, snapshot_id: int | None = None) -> int:
    """Pin ``snapshot_id`` (default: current) under ``name``. Raises
    FileExistsError if the tag exists — tags are immutable by construction."""
    t = TranscriptTable.load(root, snapshot_id)
    path = _tag_path(root, name)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    _atomic_create_json(path, {
        "snapshot_id": t.snapshot.snapshot_id,
        "created_us": int(time.time() * 1e6),
    })
    return t.snapshot.snapshot_id


def resolve_tag(root: str, name: str) -> int:
    try:
        with open(_tag_path(root, name), encoding="utf-8") as f:
            return int(json.load(f)["snapshot_id"])
    except FileNotFoundError:
        raise KeyError(f"no such tag: {name}") from None


def delete_tag(root: str, name: str) -> None:
    try:
        os.remove(_tag_path(root, name))
    except FileNotFoundError:
        raise KeyError(f"no such tag: {name}") from None


def list_tags(root: str) -> dict[str, dict]:
    refs = os.path.join(root, "metadata", "refs")
    out: dict[str, dict] = {}
    if os.path.isdir(refs):
        for fn in sorted(os.listdir(refs)):
            if fn.startswith("tag-") and fn.endswith(".json"):
                with open(os.path.join(refs, fn), encoding="utf-8") as f:
                    out[fn[len("tag-"):-len(".json")]] = json.load(f)
    return out


def load_tag(root: str, name: str) -> "TranscriptTable":
    return TranscriptTable.load(root, resolve_tag(root, name))
