"""Snapshot lake — keyed, bucketed tables (copy-on-write or merge-on-read)
with atomic commits.

This is the engine's Iceberg-equivalent storage layer (no Iceberg jars exist
in this sandbox, so the table format is built here from first principles; the
semantics mirror Iceberg v2 copy-on-write MERGE):

* a table = parquet data files + a JSON **manifest** (``meta/v{N}.json``)
  listing files per key-bucket, the schema, and the commit ledger;
* a commit = write new data files → write new manifest → **atomically swap**
  the ``meta/CURRENT`` pointer (``os.replace``, atomic on POSIX);
* **exactly-once**: each manifest records, per channel (streaming query), the
  last applied epoch; a replayed ``foreachBatch(epoch_id)`` is a no-op. The
  ledger update and the data commit are the same pointer swap, so there is no
  window where data is applied but the epoch unrecorded (the reference gets
  the same effect from commit-offsets-after-publish,
  ``databuilder/extractor/kafka_source_extractor.py:116-131``);
* **MERGE** = bucketed copy-on-write: rows hash to ``pmod(xxhash64(keys), B)``
  buckets; a merge reads ONLY the buckets touched by the batch, full-outer
  joins them with the batch on the key, and rewrites only those buckets —
  untouched buckets are carried forward by manifest reference. At the 100 TB
  design point with B=4096, a batch touching 1% of keys reads+rewrites ~1% of
  the table; the join shuffles only (touched data + batch), the small batch
  side broadcasts under AQE, and skewed buckets split via AQE skew-join.
* **merge-on-read** (``mode="mor"``): a merge only appends ONE sorted run
  (rows ordered by ``__bucket`` then key, usually one file; the LSM-tree
  flush) whatever the number of buckets it touches; every row carries
  ``__seq`` (the merge counter), ``__mor_deleted``, ``__mor_create_only``
  and its stored ``__bucket``, whose footer bounds let bucket-restricted
  readers skip runs. Reads resolve each key in ONE ``groupBy(keys)`` pass
  (latest delete cut, latest normal row, create-only rows; see
  ``_resolve``), and ``compact()`` folds every run back into the
  bucket-partitioned base, whose rows keep the winners'
  ``__seq``/``__mor_create_only``. A point lookup pins its bucket with a
  driver-side XXH64 equal to Spark's, so scan planning runs no Spark job.
* **schema evolution**: additive only — new batch columns are appended to the
  table schema; old files are read through the evolved schema (missing →
  null), mirroring Iceberg's safe additive evolution and the reference's
  new-shape-new-file behavior (``file_system_neo4j_csv_loader.py:189-191``).
* **upsert semantics** mirror ``Neo4jCsvPublisher`` MERGE
  (``databuilder/publisher/neo4j_csv_publisher.py:235-287``): ON MATCH SET /
  ON CREATE SET, with per-row *create-only* mode (labels configured create-only
  keep their existing row, :260-269), plus per-row delete.

Paths are plain files (local fs in the sandbox; the layout maps 1:1 onto an
object store — manifests are tiny JSON, data is parquet).
"""

from __future__ import annotations

import json
import os
import time
import uuid
import warnings
from dataclasses import dataclass, field, replace
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from amundsendatabuilder_spark.functions.sqltext import sql_ident, sql_str, sql_type

LINEAGE_COLS = [("publish_tag", T.StringType()), ("updated_ms", T.LongType())]

# merge-on-read service columns (stored in mor data files)
MOR_SEQ = "__seq"              # monotonic merge counter — LWW order on read
MOR_DEL = "__mor_deleted"      # delete marker row
MOR_CO = "__mor_create_only"   # first-writer-wins row (create-only labels)


def _bucket_sql(key_cols: list[str], n_buckets: int, qualifier: str = "") -> str:
    """SQL text of a row's bucket, ``pmod(xxhash64(keys), n_buckets)``;
    ``qualifier`` names the relation the key columns belong to."""
    q = f"{sql_ident(qualifier)}." if qualifier else ""
    cols = ", ".join(q + sql_ident(c) for c in key_cols)
    return f"CAST(pmod(xxhash64({cols}), {int(n_buckets)}) AS INT)"


def _bucket_expr(key_cols: list[str], n_buckets: int, qualifier: str = ""):
    return F.expr(_bucket_sql(key_cols, n_buckets, qualifier))


# Spark's XXH64 (catalyst ``XXH64``/``XxHash64Function``) on the driver, so a
# point lookup pins its bucket without a Spark job. Arithmetic is mod 2^64.
_M64 = (1 << 64) - 1
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xx_round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _xx_fmix(h: int) -> int:
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    return h ^ (h >> 32)


def _xx_lane8(h: int, k: int) -> int:
    return (_rotl(h ^ _xx_round(0, k), 27) * _P1 + _P4) & _M64


def _xx_lane4(h: int, k: int) -> int:
    return (_rotl(h ^ (k * _P1 & _M64), 23) * _P2 + _P3) & _M64


def _xx_bytes(b: bytes, seed: int) -> int:      # hashUnsafeBytes
    n, i = len(b), 0
    h = (seed + _P5) & _M64
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed,
             (seed - _P1) & _M64]
        while i + 32 <= n:
            v = [_xx_round(v[j], int.from_bytes(b[i + 8 * j:i + 8 * j + 8], "little"))
                 for j in range(4)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _xx_round(0, x)) * _P1 + _P4) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h, i = _xx_lane8(h, int.from_bytes(b[i:i + 8], "little")), i + 8
    if i + 4 <= n:
        h, i = _xx_lane4(h, int.from_bytes(b[i:i + 4], "little")), i + 4
    for c in b[i:]:
        h = _rotl(h ^ (c * _P5 & _M64), 11) * _P1 & _M64
    return _xx_fmix(h)


_INT_RANGE = {T.ByteType: 7, T.ShortType: 15, T.IntegerType: 31, T.LongType: 63}


def _driver_bucket(values: list, types: list[T.DataType], n_buckets: int) -> int | None:
    """``pmod(xxhash64(values…), n_buckets)`` computed in Python: the hash
    chains over the key columns from seed 42 and skips nulls, as Spark's
    does. Returns None for a key type it does not cover (the caller then
    skips bucket pruning). A literal whose Python type does not match its
    column raises: a coerced literal would hash into the wrong bucket."""
    h = 42
    for v, dt in zip(values, types):
        if v is None:
            continue
        if isinstance(dt, T.StringType):
            if not isinstance(v, str):
                raise TypeError(f"key literal {v!r} does not match {dt}")
            if dt != T.StringType():  # collated strings hash a sort key
                return None
            h = _xx_bytes(v.encode("utf-8"), h)
        elif type(dt) in _INT_RANGE:
            bits = _INT_RANGE[type(dt)]
            if not isinstance(v, int) or isinstance(v, bool) \
                    or not -(1 << bits) <= v < (1 << bits):
                raise TypeError(f"key literal {v!r} does not match {dt}")
            h = _xx_fmix(  # hashLong: one 8-byte lane; hashInt: one 4-byte lane
                _xx_lane8((h + _P5 + 8) & _M64, v & _M64) if bits == 63
                else _xx_lane4((h + _P5 + 4) & _M64, v & 0xFFFFFFFF))
        else:
            return None
    return (h - (1 << 64) if h >> 63 else h) % n_buckets


def engine_parallelism(spark: SparkSession) -> int:
    """Partition-count target for engine-internal repartitions/coalesces.

    Defaults to the session's core count, but honors
    ``SPARK_CDC_TARGET_PARTITIONS`` so the SAME physical plan (same task
    counts, same file layout) can run at different cluster widths — on a
    real cluster partitioning is sized to the DATA and stays fixed while
    executors scale; deriving it from current width would change the job
    between a 250- and a 1000-executor run (and, measured in-sandbox, the
    per-task fixed costs it adds at high width masquerade as poor scaling)."""
    env = os.environ.get("SPARK_CDC_TARGET_PARTITIONS")
    return int(env) if env else spark.sparkContext.defaultParallelism


@dataclass
class Snapshot:
    version: int
    schema_json: str
    key_cols: list[str]
    n_buckets: int
    files: dict[str, list[str]]          # bucket (str) -> base data files
    epochs: dict[str, int]               # channel -> last applied epoch id
    metrics: dict[str, Any] = field(default_factory=dict)
    parent: int | None = None
    committed_at_ms: int = 0
    mode: str = "cow"                    # cow | mor
    # mor: one entry per merge since the last fold, str(seq) -> the files of
    # that merge's sorted run. Readers treat EVERY entry as a run whatever
    # its key, so manifests that keyed per-bucket delta files by bucket
    # still read (their files carry no __bucket bounds, so never prune)
    delta_files: dict[str, list[str]] = field(default_factory=dict)
    seq: int = 0                         # monotonic merge counter (mor order)
    # file -> {col: [lower_bound, upper_bound]} from parquet footers; string
    # bounds are truncated (lower) / truncated-and-bumped (upper) à la
    # Iceberg, so they stay small but remain valid bounds. Absent for
    # manifests written before stats collection existed (pruning degrades
    # to keep-everything, never to wrong answers).
    file_stats: dict[str, dict[str, list]] = field(default_factory=dict)

    def schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.schema_json))

    def to_json(self) -> str:
        return json.dumps(self.__dict__, sort_keys=True)

    @staticmethod
    def from_json(s: str) -> "Snapshot":
        return Snapshot(**json.loads(s))


class ManifestIO:
    """Pluggable manifest storage. The default is POSIX local fs where the
    CURRENT pointer swap is ``os.replace`` (atomic). On an object store this
    class is the ONE thing to reimplement: write manifests as immutable
    objects and swap CURRENT with a conditional put (S3 If-None-Match /
    GCS generation-match) or a catalog/DynamoDB compare-and-set — the same
    contract Iceberg delegates to its catalog. Data files never need this:
    they are immutable and referenced only by committed manifests."""

    def read(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def write(self, path: str, content: str) -> None:
        with open(path, "w") as f:
            f.write(content)
            f.flush()
            os.fsync(f.fileno())

    def swap_pointer(self, pointer_path: str, content: str) -> None:
        tmp = f"{pointer_path}.{uuid.uuid4().hex}.tmp"
        self.write(tmp, content)
        os.replace(tmp, pointer_path)  # atomic on POSIX

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def create_exclusive(self, path: str, content: str) -> bool:
        """Create-exclusive write — the compare-and-swap primitive the
        commit protocol rests on (O_CREAT|O_EXCL is atomic on POSIX; on an
        object store this is a conditional put with If-None-Match, on a
        catalog a conditional INSERT). Returns False if ``path`` already
        exists — the caller lost the commit race."""
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        with os.fdopen(fd, "w") as f:
            f.write(content)
            f.flush()
            os.fsync(f.fileno())
        return True


class SnapshotTable:
    def __init__(self, spark: SparkSession, root: str,
                 manifest_io: ManifestIO | None = None):
        self.spark = spark
        self.root = root
        self.meta_dir = os.path.join(root, "meta")
        self.data_dir = os.path.join(root, "data")
        self.io = manifest_io or ManifestIO()

    # ---- manifest I/O -------------------------------------------------

    def current(self) -> Snapshot:
        # The CURRENT pointer is a read CACHE, not the commit point: a
        # commit is durable the moment its v{N}.json is exclusively
        # created (see _commit), so roll forward past any manifests whose
        # pointer swap never landed (crash between create and swap).
        try:
            v = int(self.io.read(os.path.join(self.meta_dir, "CURRENT")).strip().lstrip("v"))
        except FileNotFoundError:
            v = 0  # crash between the v0 manifest create and the first swap
        while self.io.exists(os.path.join(self.meta_dir, f"v{v + 1}.json")):
            v += 1
        return Snapshot.from_json(self.io.read(os.path.join(self.meta_dir, f"v{v}.json")))

    # ---- file-level column statistics (scan planning) -------------------

    STATS_TRUNC = 16  # Iceberg-style string-bound truncation length

    @staticmethod
    def _trunc_bounds(mn: str, mx: str) -> list | None:
        """Truncate string bounds: lower truncates (still <= true min);
        upper truncates then bumps the last kept code point (still >= true
        max). Unbumpable upper (U+10FFFF run) drops the column's stats."""
        k = SnapshotTable.STATS_TRUNC
        lo = mn[:k]
        if len(mx) <= k:
            return [lo, mx]
        head = mx[:k]
        for i in range(len(head) - 1, -1, -1):
            cp = ord(head[i])
            if cp < 0x10FFFF and not 0xD7FF <= cp <= 0xE000:
                return [lo, head[:i] + chr(cp + 1)]
        return None

    def _footer_stats(self, path: str) -> dict[str, list]:
        """Per-column [lower, upper] bounds for one parquet file, read from
        its footer (driver-side, metadata-only — no data pages). Only
        JSON-stable atomic types participate: int / float / bool / str
        (truncated). A column missing min/max in ANY row group carries no
        stats (pruning keeps the file)."""
        import math

        try:
            import pyarrow.parquet as pq
            md = pq.ParquetFile(path).metadata
        except Exception:
            return {}
        agg: dict[str, list | None] = {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if "." in name:          # nested leaves — not prunable here
                    continue
                if name in agg and agg[name] is None:
                    continue
                st = col.statistics
                if st is None or not st.has_min_max:
                    agg[name] = None
                    continue
                mn, mx = st.min, st.max
                if not (isinstance(mn, (int, float, bool, str))
                        and isinstance(mx, (int, float, bool, str))):
                    agg[name] = None     # timestamps/bytes: skip (JSON shape)
                    continue
                if isinstance(mn, float) and (math.isnan(mn) or math.isnan(mx)):
                    agg[name] = None
                    continue
                if isinstance(mn, str):
                    b = self._trunc_bounds(mn, mx)
                    if b is None:
                        agg[name] = None
                        continue
                    mn, mx = b
                cur = agg.get(name)  # None-marked columns continue'd above
                agg[name] = [mn, mx] if cur is None else [
                    min(cur[0], mn), max(cur[1], mx)]
        return {k: v for k, v in agg.items() if v is not None}

    def _attach_stats(self, snap: Snapshot) -> None:
        """Populate snap.file_stats: carry bounds forward for files that
        persist (data files are immutable; a commit derives its snapshot
        from the parent's, so ``snap.file_stats`` still holds the parent's
        bounds), read footers only for files new in this commit — O(new
        files) driver work per commit, which is O(batch), not O(table)."""
        carried = snap.file_stats
        snap.file_stats = {
            f: carried[f] if f in carried else self._footer_stats(f)
            for f in sorted(set(self._all_files(snap)))
        }

    @staticmethod
    def _next(snap: Snapshot, **changes: Any) -> Snapshot:
        """The snapshot that commits on top of ``snap``: every field carries
        over except the version chain and the ``changes`` given (``_commit``
        restamps ``committed_at_ms`` and ``file_stats``)."""
        return replace(snap, version=snap.version + 1, parent=snap.version,
                       **changes)

    def _commit(self, snap: Snapshot) -> None:
        # Compare-and-swap concurrency control for EVERY commit path
        # (upsert, compact, delete_where, replace_all): two committers
        # built on the same parent both derive version parent+1, and the
        # exclusive CREATE of v{N}.json admits exactly one — the loser
        # raises instead of silently swapping in a manifest missing the
        # winner's files and ledger entry. (The former read-then-swap
        # guard had a window where both could pass the read; this has
        # none — manifest creation IS the commit point, and the CURRENT
        # pointer is just a cache that current() rolls forward.)
        snap.committed_at_ms = int(time.time() * 1000)
        self._attach_stats(snap)
        path = os.path.join(self.meta_dir, f"v{snap.version}.json")
        if not self.io.create_exclusive(path, snap.to_json()):
            raise RuntimeError(
                f"concurrent commit detected on {self.root}: v{snap.version} "
                f"(parent v{snap.parent}) already exists — another committer "
                f"won the race; re-read current() and retry the commit"
            )
        self.io.swap_pointer(os.path.join(self.meta_dir, "CURRENT"), f"v{snap.version}")

    # ---- read ----------------------------------------------------------

    def _read_files(self, files: list[str], schema: T.StructType) -> DataFrame:
        if not files:
            return self.spark.createDataFrame([], schema)
        # explicit schema: old files lacking evolved columns read as null
        return self.spark.read.schema(schema).parquet(*files)

    @staticmethod
    def _mor_schema(schema: T.StructType) -> T.StructType:
        return T.StructType(
            schema.fields
            + [
                T.StructField(MOR_SEQ, T.LongType()),
                T.StructField(MOR_DEL, T.BooleanType()),
                T.StructField(MOR_CO, T.BooleanType()),
            ]
        )

    @staticmethod
    def _resolve(raw: DataFrame, schema: T.StructType,
                 keys: list[str], keep_service: bool = False) -> DataFrame:
        """MoR read-side LWW in ONE keyed aggregate over the raw rows
        (Iceberg-equality-delete / Hudi-log-merge shape). Per key it keeps:

        * ``__cut`` — the latest delete marker's ``__seq``; only rows
          written after it are in play;
        * ``__nc`` — the latest normal (neither delete nor create-only) row;
        * ``__cos`` — every create-only row.

        The winner is ``__nc`` if it is after the cut: a normal row beats
        every create-only row. Otherwise it is the EARLIEST create-only row
        after the cut (first writer wins; a co row written after a delete
        re-creates the key, matching CoW's keyed merge whatever
        the compaction timing). Otherwise the key has no row. The earliest
        co row is picked by a fold, not a sort: payload structs may carry
        maps, which are not orderable. ``keep_service`` also emits the
        winner's ``__seq``/``__co`` (compaction rewrites keep merge order)."""
        payload = [f.name for f in schema.fields if f.name not in keys]
        row = f"struct({', '.join(map(sql_ident, [MOR_SEQ, *payload]))})"
        row_t = sql_type(SnapshotTable._relax(T.StructType(
            [T.StructField(MOR_SEQ, T.LongType())]
            + [schema[c] for c in payload])))
        dele = f"coalesce({MOR_DEL}, false)"
        co = f"coalesce({MOR_CO}, false)"
        nc = f"NOT {dele} AND NOT {co}"
        cut = "coalesce(__cut, -9223372036854775808L)"
        nc_wins = f"coalesce(__nc.{MOR_SEQ} > {cut}, false)"
        first_co = (
            f"aggregate(__cos, CAST(NULL AS {row_t}), (acc, x) -> CASE WHEN"
            f" x.{MOR_SEQ} > {cut} AND (acc IS NULL OR x.{MOR_SEQ} < acc.{MOR_SEQ})"
            " THEN x ELSE acc END)"
        )
        out_extra = (
            [f"__w.{MOR_SEQ} AS {MOR_SEQ}", f"false AS {MOR_DEL}",
             f"NOT __nc_wins AS {MOR_CO}"]
            if keep_service
            else []
        )
        k = [sql_ident(c) for c in keys]
        return (
            raw.groupBy(*keys).agg(
                F.expr(f"max(CASE WHEN {dele} THEN {MOR_SEQ} END) AS __cut"),
                F.expr(f"max_by(CASE WHEN {nc} THEN {row} END,"
                       f" CASE WHEN {nc} THEN {MOR_SEQ} END) AS __nc"),
                F.expr(f"collect_list(CASE WHEN NOT {dele} AND {co} THEN {row} END)"
                       " AS __cos"),
            )
            .selectExpr(*k, f"{nc_wins} AS __nc_wins",
                        f"CASE WHEN {nc_wins} THEN __nc ELSE {first_co} END AS __w")
            .where("__w IS NOT NULL")
            .selectExpr(*k, *[f"__w.{sql_ident(c)} AS {sql_ident(c)}" for c in payload],
                        *out_extra)
        )

    @staticmethod
    def _runs(snap: Snapshot) -> list[str]:
        """Every MoR run file of ``snap``, whatever its manifest key."""
        return [f for fl in snap.delta_files.values() for f in fl]

    def _all_files(self, snap: Snapshot, buckets: list[int] | None = None) -> list[str]:
        """Base files of ``buckets`` (all when None) plus, in MoR, every run
        whose ``__bucket`` bounds may hold one of them (a run without bounds
        is kept). A kept run also holds rows of other buckets."""
        if buckets is None:
            base = [f for fl in snap.files.values() for f in fl]
        else:
            base = [f for b in buckets for f in snap.files.get(str(b), [])]
        if snap.mode != "mor":
            return base
        runs = self._runs(snap)
        if buckets is not None:
            runs = [f for f in runs if self._may_match(
                snap.file_stats.get(f, {}).get("__bucket"), "in", buckets)]
        return base + runs

    def _read_snapshot(self, snap: Snapshot,
                       buckets: list[int] | None = None) -> DataFrame:
        """Resolved (LWW for MoR, plain for CoW) content of one snapshot,
        optionally restricted to a bucket subset (manifest pruning). A MoR
        run spans buckets, so its rows of other buckets drop before the
        resolve; the bucket is hashed from the keys, not read from the
        stored column, so files written without one filter the same."""
        if snap.mode == "mor":
            raw = self._read_files(
                self._all_files(snap, buckets), self._mor_schema(snap.schema())
            )
            if buckets is not None:
                raw = raw.where(f"{_bucket_sql(snap.key_cols, snap.n_buckets)}"
                                f" IN ({', '.join(map(str, buckets))})")
            return self._resolve(raw, snap.schema(), snap.key_cols)
        return self._read_files(self._all_files(snap, buckets), snap.schema())

    def snapshot_at(self, version: int) -> Snapshot:
        """Load a pinned snapshot manifest (time travel). Expired versions
        (removed by ``expire_snapshots``) raise with the retention hint."""
        path = os.path.join(self.meta_dir, f"v{version}.json")
        if not self.io.exists(path):
            raise ValueError(
                f"snapshot v{version} of {self.root} does not exist or was "
                f"expired by expire_snapshots (current is "
                f"v{self.current().version}; raise keep_last to retain more "
                f"time-travel history)"
            )
        return Snapshot.from_json(self.io.read(path))

    def read(self, version: int | None = None) -> DataFrame:
        """Current table state, or — with ``version`` — the state AS OF that
        committed snapshot (Iceberg ``VERSION AS OF`` time travel: manifests
        are immutable and data files append-only until expiry, so a pinned
        read is just the old manifest's file list resolved the same way)."""
        snap = self.current() if version is None else self.snapshot_at(version)
        return self._read_snapshot(snap)

    def history(self) -> list[dict[str, Any]]:
        """Commit log of every retained snapshot, oldest first — version,
        parent, commit time, mode, per-channel epoch ledger, file counts, and
        the commit's recorded metrics (rows applied / conflicts / watermark).
        Metadata-only: reads the tiny JSON manifests, never data files.
        The engine-grade analog of Iceberg's ``snapshots`` metadata table."""
        import re as _re

        out = []
        for f in sorted(os.listdir(self.meta_dir)):
            m = _re.fullmatch(r"v(\d+)\.json", f)
            if not m:
                continue
            s = Snapshot.from_json(self.io.read(os.path.join(self.meta_dir, f)))
            out.append({
                "version": s.version,
                "parent": s.parent,
                "committed_at_ms": s.committed_at_ms,
                "mode": s.mode,
                "epochs": dict(s.epochs),
                "n_base_files": sum(len(v) for v in s.files.values()),
                "n_delta_files": sum(len(v) for v in s.delta_files.values()),
                "metrics": dict(s.metrics),
            })
        return sorted(out, key=lambda d: d["version"])

    @staticmethod
    def _comparable(c, dt: T.DataType):
        """Rewrite a column into a shape Spark can test equality on: map
        columns (node attribute maps) are not comparable, so they become
        key-sorted entry arrays; arrays/structs recurse. Used by ``changes``
        to detect payload-identical rewrites (e.g. compaction) as no-ops."""
        if isinstance(dt, T.MapType):
            ent = F.transform(
                F.map_entries(c),
                lambda e: F.struct(
                    SnapshotTable._comparable(e["key"], dt.keyType).alias("key"),
                    SnapshotTable._comparable(e["value"], dt.valueType).alias("value"),
                ),
            )
            return F.sort_array(ent)
        if isinstance(dt, T.ArrayType):
            return F.transform(
                c, lambda e: SnapshotTable._comparable(e, dt.elementType))
        if isinstance(dt, T.StructType):
            return F.struct(*[
                SnapshotTable._comparable(c[f.name], f.dataType).alias(f.name)
                for f in dt.fields
            ])
        return c

    def changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Incremental change feed between two committed snapshots — the lake
        as a CDC *source* (Delta CDF / Iceberg changelog-scan analog): one row
        per key whose resolved state differs, with ``_change_type`` in
        {insert, update, delete}. Inserts/updates carry the post-image,
        deletes the pre-image (Delta CDF convention). Downstream incremental
        consumers (search-doc rebuilds, replication) process O(changed keys),
        not O(table).

        Scale shape: only buckets whose base file lists differ between
        the two snapshots, or that a run present in only one of them may
        hold (its ``__bucket`` bounds), are read at all — at the 100 TB
        design point a window touching 1% of buckets scans ~1% of the
        table twice; the diff is one null-safe full-outer join on the key
        (both sides share the bucket partitioning) and payload equality
        runs JVM-side on map-canonicalized structs. Payload-identical
        rewrites (compaction,
        idempotent re-upserts) emit nothing — the feed is logical, not
        physical."""
        a = self.snapshot_at(from_version)
        b = (self.current() if to_version is None
             else self.snapshot_at(to_version))
        if b.version < a.version:
            raise ValueError(
                f"changes: to_version v{b.version} precedes from_version "
                f"v{a.version}")
        if a.key_cols != b.key_cols or a.n_buckets != b.n_buckets:
            raise ValueError("changes: snapshots disagree on key layout")
        keys = b.key_cols
        schema = b.schema()  # additive evolution: superset of a's
        payload = [f for f in schema.fields if f.name not in keys]
        touched = {
            int(bk) for bk in set(a.files) | set(b.files)
            if a.files.get(bk, []) != b.files.get(bk, [])
        }
        # a run in only one snapshot touches its __bucket range; a run
        # without bounds touches every bucket
        runs_a = set(self._runs(a))
        ranges = [
            (a if f in runs_a else b).file_stats.get(f, {}).get("__bucket")
            for f in runs_a ^ set(self._runs(b))
        ]
        bks = None
        if None not in ranges:
            touched |= {bk for lo, hi in ranges for bk in range(lo, hi + 1)}
            if not touched:
                return self.spark.createDataFrame(
                    [], T.StructType(schema.fields
                                     + [T.StructField("_change_type", T.StringType())]))
            bks = sorted(touched)
        old = self._read_snapshot(a, bks)
        # align the old side to the evolved schema (missing columns → null,
        # same as reading old files through the new schema)
        for f in schema.fields:
            if f.name not in old.columns:
                old = old.withColumn(f.name, F.lit(None).cast(f.dataType))
        old = old.select(*[f.name for f in schema.fields])
        new = self._read_snapshot(b, bks)
        o = old.withColumn("__o_present", F.lit(True)).alias("o")
        n = new.withColumn("__n_present", F.lit(True)).alias("n")
        on = [F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}")) for k in keys]
        joined = o.join(n, on, "full_outer")
        o_pay = F.struct(*[
            self._comparable(F.col(f"o.{f.name}"), f.dataType).alias(f.name)
            for f in payload]) if payload else F.lit(0)
        n_pay = F.struct(*[
            self._comparable(F.col(f"n.{f.name}"), f.dataType).alias(f.name)
            for f in payload]) if payload else F.lit(0)
        o_here = F.coalesce(F.col("o.__o_present"), F.lit(False))
        n_here = F.coalesce(F.col("n.__n_present"), F.lit(False))
        ct = (
            F.when(~o_here & n_here, F.lit("insert"))
            .when(o_here & ~n_here, F.lit("delete"))
            .when(~o_pay.eqNullSafe(n_pay), F.lit("update"))
        )
        side = F.when(ct == "delete", F.lit("o")).otherwise(F.lit("n"))
        return (
            joined.withColumn("_change_type", ct)
            .where(F.col("_change_type").isNotNull())
            .select(
                *[
                    F.when(side == "o", F.col(f"o.{c}"))
                    .otherwise(F.col(f"n.{c}")).alias(c)
                    for c in [f.name for f in schema.fields]
                ],
                "_change_type",
            )
        )

    # ---- predicate scan planning (file pruning) --------------------------

    @staticmethod
    def _may_match(bounds: list | None, op: str, val) -> bool:
        """Can a file whose column spans ``bounds`` contain a row satisfying
        ``col <op> val``? Unknown bounds → yes (never prune blind)."""
        if bounds is None:
            return True
        lo, hi = bounds
        # bounds are conservative (string bounds are loosened by truncation,
        # never tightened), so plain comparisons are safe for every type
        if op == "=":
            return lo <= val <= hi
        if op == "<":
            return lo < val
        if op == "<=":
            return lo <= val
        if op == ">":
            return hi > val
        if op == ">=":
            return hi >= val
        if op == "in":
            return any(SnapshotTable._may_match(bounds, "=", v) for v in val)
        if op == "between":
            return hi >= val[0] and lo <= val[1]
        raise ValueError(f"unsupported predicate op {op!r}")

    def plan_scan(self, preds: list[tuple], version: int | None = None) -> dict[str, Any]:
        """Scan planning for a conjunction of simple predicates
        ``(col, op, value)`` with op in {=, <, <=, >, >=, in, between}:
        returns the pruned file list plus counts, using the per-file column
        bounds recorded in the manifest — Iceberg's metadata-only file
        filtering, the single biggest 100 TB lever after bucket pruning.

        MoR safety rule: only KEY-column predicates prune files. A non-key
        predicate could drop the delta file holding a key's LATEST version
        while an older version of the same key survives elsewhere — the LWW
        resolve would then resurrect the stale row. Key-column pruning is
        safe because every file containing a given key value overlaps that
        value's bounds, so all of them are kept or none. CoW buckets own
        each row exactly once, so every column prunes."""
        for _c, op, _v in preds:
            if op not in ("=", "<", "<=", ">", ">=", "in", "between"):
                raise ValueError(f"unsupported predicate op {op!r}")
        snap = self.current() if version is None else self.snapshot_at(version)
        prunable = (
            [p for p in preds if p[0] in snap.key_cols]
            if snap.mode == "mor" else preds
        )
        # hash-bucket pruning for point lookups: an equality predicate on
        # EVERY key column pins the row to one bucket — (B-1)/B of the files
        # drop before stats are even consulted (safe in both modes: a bucket
        # owns all versions of its keys). The bucket is hashed on the driver
        # against the TABLE's key types: xxhash64 is type-sensitive, so an
        # implicitly-coerced literal (int vs string key) fails loudly here
        # rather than hash to — and prune to — the wrong bucket. Key types
        # the driver hash does not cover skip bucket pruning.
        eq = {c: v for c, op, v in preds if op == "="}
        buckets = None
        if all(k in eq for k in snap.key_cols):
            types = {f.name: f.dataType for f in snap.schema().fields}
            b = _driver_bucket([eq[k] for k in snap.key_cols],
                               [types[k] for k in snap.key_cols], snap.n_buckets)
            buckets = None if b is None else [b]
        files_total = len(self._all_files(snap))
        files = self._all_files(snap, buckets)
        kept = [
            f for f in files
            if all(
                self._may_match(snap.file_stats.get(f, {}).get(c), op, v)
                for c, op, v in prunable
            )
        ] if snap.file_stats else list(files)
        return {"files_total": files_total, "files_kept": len(kept),
                "files": kept, "snapshot": snap}

    def read_where(self, preds: list[tuple],
                   version: int | None = None) -> DataFrame:
        """Filtered read with manifest-level file pruning: files whose
        recorded column bounds cannot satisfy the conjunction are never
        opened; the SAME predicates are then applied as real Spark filters
        (and push down into the surviving parquet scans), so results are
        exact regardless of stats coverage."""
        plan = self.plan_scan(preds, version)
        snap: Snapshot = plan["snapshot"]
        schema = snap.schema()

        def _flt(df: DataFrame) -> DataFrame:
            cond = F.lit(True)
            for c, op, v in preds:
                col = F.col(c)
                cond = cond & {
                    "=": lambda: col == v,
                    "<": lambda: col < v,
                    "<=": lambda: col <= v,
                    ">": lambda: col > v,
                    ">=": lambda: col >= v,
                    "in": lambda: col.isin(list(v)),
                    "between": lambda: (col >= v[0]) & (col <= v[1]),
                }[op]()
            return df.where(cond)

        if snap.mode == "mor":
            raw = self._read_files(plan["files"], self._mor_schema(schema))
            return _flt(self._resolve(raw, schema, snap.key_cols))
        return _flt(self._read_files(plan["files"], schema))

    def last_epoch(self, channel: str) -> int:
        return self.current().epochs.get(channel, -1)

    def _key_box_prune(self, snap: Snapshot, files: list[str],
                       box: dict[str, tuple]) -> list[str]:
        """Drop files whose recorded key-column bounds cannot overlap the
        batch's key bounding box. Key-column pruning is safe in both modes:
        every file holding any version of a matching key overlaps the box,
        so all of them survive together (same rule as plan_scan's MoR
        clause). Files without stats are kept."""
        if not snap.file_stats or not box:
            return files
        return [
            f for f in files
            if all(
                self._may_match(
                    snap.file_stats.get(f, {}).get(c), "between", (lo, hi))
                for c, (lo, hi) in box.items()
            )
        ]

    def read_for_keys(self, keys_df: DataFrame,
                      columns: list[str] | None = None) -> DataFrame:
        """Current rows whose key appears in ``keys_df`` — reads only the
        touched buckets (manifest pruning), skips files whose recorded key
        bounds miss the batch's key bounding box (when entity keys arrive in
        waves, other waves' delta files never open), then left-semi joins on
        the key. ``columns`` prunes the projection down to the parquet scan
        (pass only what you need: wide columns like ``content`` dominate
        scan bytes). The point-lookup primitive of the CDC diff path."""
        snap = self.current()
        schema = snap.schema()
        if columns is not None:
            want = set(columns) | set(snap.key_cols)
            schema = T.StructType([f for f in schema.fields if f.name in want])
        # ONE aggregate job yields the touched buckets AND the key bounding
        # box (plus a null-key flag: parquet bounds say nothing about nulls,
        # so any null key disables box pruning — bucket pruning still holds)
        aggs = ["collect_set(__b) AS __bs"]
        for i, k in enumerate(map(sql_ident, snap.key_cols)):
            aggs += [f"min({k}) AS __mn{i}", f"max({k}) AS __mx{i}",
                     f"max(CAST({k} IS NULL AS INT)) AS __null{i}"]
        probe = (
            keys_df.selectExpr(
                f"{_bucket_sql(snap.key_cols, snap.n_buckets)} AS __b",
                *map(sql_ident, snap.key_cols),
            )
            .selectExpr(*aggs)
            .collect()[0]
        )
        touched = probe["__bs"]
        box = {
            k: (probe[f"__mn{i}"], probe[f"__mx{i}"])
            for i, k in enumerate(snap.key_cols)
            if not probe[f"__null{i}"] and probe[f"__mn{i}"] is not None
        }
        files = self._key_box_prune(snap, self._all_files(snap, touched), box)
        keys_only = keys_df.select(*snap.key_cols).dropDuplicates(snap.key_cols)
        if snap.mode == "mor":
            raw = self._read_files(
                files, self._mor_schema(schema)
            ).join(keys_only, on=snap.key_cols, how="left_semi")
            return self._resolve(raw, schema, snap.key_cols)
        cur = self._read_files(files, schema)
        return cur.join(keys_only, on=snap.key_cols, how="left_semi")

    # ---- schema evolution ----------------------------------------------

    @staticmethod
    def _relax(dt: T.DataType) -> T.DataType:
        """Recursively drop nullability — evolution compares value types only
        (a non-nullable batch column writes fine into a nullable table one)."""
        if isinstance(dt, T.StructType):
            return T.StructType(
                [T.StructField(f.name, SnapshotTable._relax(f.dataType), True)
                 for f in dt.fields]
            )
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(SnapshotTable._relax(dt.elementType), True)
        if isinstance(dt, T.MapType):
            return T.MapType(
                SnapshotTable._relax(dt.keyType),
                SnapshotTable._relax(dt.valueType), True,
            )
        return dt

    @staticmethod
    def _evolve(table_schema: T.StructType, batch_schema: T.StructType,
                ignore: set[str]) -> T.StructType:
        """Additive union: batch columns not yet in the table are appended.
        Type changes and drops are rejected (never destructive)."""
        existing = {f.name: f for f in table_schema.fields}
        out = list(table_schema.fields)
        for f in batch_schema.fields:
            if f.name in ignore:
                continue
            if f.name in existing:
                if SnapshotTable._relax(existing[f.name].dataType) != SnapshotTable._relax(f.dataType):
                    raise ValueError(
                        f"incompatible type change for column {f.name}: "
                        f"{existing[f.name].dataType} -> {f.dataType}"
                    )
            else:
                out.append(T.StructField(f.name, SnapshotTable._relax(f.dataType), True))
        return T.StructType(out)

    # ---- merge internals ----------------------------------------------------

    def _merge_join(self, src, target, new_schema, keys, n_buckets, tag, now_ms):
        """The CoW merge: full-outer join on the key, then the caller
        repartitions by bucket for the write (two shuffles)."""
        data_cols = [f.name for f in new_schema.fields]
        # explicit presence flags: the join is null-safe on the keys, so
        # "side present" must NOT be inferred from key-column nullness (a
        # legitimately null-keyed source row would read as absent and take
        # the target's null payload instead of its own)
        src = src.withColumn("__s_present", F.lit(True)).alias("s")
        target = target.withColumn("__t_present", F.lit(True)).alias("t")
        on = [F.col(f"s.{k}").eqNullSafe(F.col(f"t.{k}")) for k in keys]
        joined = src.join(target, on, "full_outer")

        s_hit = F.col("s.__s_present").isNotNull()
        t_hit = F.col("t.__t_present").isNotNull()
        take_source = s_hit & ~(t_hit & F.col("s.__co"))

        out_cols = []
        for c in data_cols:
            if c in keys:
                out_cols.append(F.coalesce(F.col(f"s.{c}"), F.col(f"t.{c}")).alias(c))
            elif c == "publish_tag":
                out_cols.append(F.when(take_source, F.lit(tag)).otherwise(F.col("t.publish_tag")).alias(c))
            elif c == "updated_ms":
                out_cols.append(F.when(take_source, F.lit(now_ms)).otherwise(F.col("t.updated_ms")).alias(c))
            else:
                out_cols.append(F.when(take_source, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c))

        obs = Observation()
        merged = (
            joined
            .withColumn("__is_del", s_hit & F.col("s.__del"))
            .withColumn("__is_ins", s_hit & ~t_hit & ~F.col("s.__del"))
            .withColumn("__is_upd", s_hit & t_hit & ~F.col("s.__del") & ~F.col("s.__co"))
            .observe(
                obs,
                F.sum(s_hit.cast("long")).alias("rows_seen"),
                F.sum(F.col("__is_ins").cast("long")).alias("rows_inserted"),
                F.sum(F.col("__is_upd").cast("long")).alias("rows_updated"),
                F.sum((F.col("__is_del") & t_hit).cast("long")).alias("rows_deleted"),
            )
            .where(~F.col("__is_del"))
            .select(
                *out_cols,
                F.coalesce(F.col("s.__bucket"), _bucket_expr(keys, n_buckets, "t")).alias("__bucket"),
            )
        )
        return merged, obs

    def _merge_counts(self, src, target, keys) -> dict[str, int]:
        """Lineage counts via a direct aggregation (one extra batch-sized
        job): the fallback when the merge's Observation cannot materialize
        (empty written plan — an all-delete or all-gated-out batch; ADVICE
        r01)."""
        t_keys = target.select(*keys).withColumn("__t", F.lit(True))
        # null-safe key equality, matching _merge_join's join condition —
        # a column-name equi-join would count a null-keyed match as an
        # insert while the merge counts it as an update
        on = [src[k].eqNullSafe(t_keys[k]) for k in keys]
        row = (
            src.join(t_keys, on, "left").drop(*[t_keys[k] for k in keys])
            .agg(
                F.count(F.lit(1)).alias("rows_seen"),
                F.sum((F.col("__del") & F.col("__t").isNotNull()).cast("long")).alias("rows_deleted"),
                F.sum((~F.col("__del") & F.col("__t").isNull()).cast("long")).alias("rows_inserted"),
                F.sum((~F.col("__del") & F.col("__t").isNotNull() & ~F.col("__co")).cast("long")).alias("rows_updated"),
            )
            .first()
        )
        return {k: int(row[k] or 0) for k in
                ("rows_seen", "rows_inserted", "rows_updated", "rows_deleted")}

    # ---- merge (the upsert) ----------------------------------------------

    def merge_upsert(
        self,
        batch: DataFrame,
        epoch_id: int,
        channel: str = "default",
        delete_col: str | None = None,
        create_only_col: str | None = None,
        publish_tag: str | None = None,
        check_unique: bool | None = None,
    ) -> dict[str, Any]:
        """Idempotent keyed upsert of one micro-batch: prepare + commit."""
        prep = self.prepare_upsert(
            batch, epoch_id, channel, delete_col, create_only_col, publish_tag,
            check_unique,
        )
        if prep is None:
            return {"skipped_epoch": epoch_id, "channel": channel}
        return self.commit_prepared(prep)

    def prepare_upsert(
        self,
        batch: DataFrame,
        epoch_id: int,
        channel: str = "default",
        delete_col: str | None = None,
        create_only_col: str | None = None,
        publish_tag: str | None = None,
        check_unique: bool | None = None,
    ) -> dict[str, Any] | None:
        """Heavy phase of the upsert: compute + write the new data files.

        Thread-safe across DIFFERENT tables — the pipeline prepares all of
        an epoch's tables concurrently (one Spark job wave instead of serial
        chains), then commits manifests in dependency order. Returns None if
        the epoch is already applied.

        ``batch`` must be unique per key (LWW-dedup upstream — MERGE forbids
        multi-match, same as Iceberg). ``delete_col``: boolean column, true ⇒
        remove the target row. ``create_only_col``: boolean, true ⇒ existing
        row wins (reference create-only labels). Returns the prepared
        commit for :meth:`commit_prepared`; its ``metrics`` carry the lineage
        counts.

        The batch is not materialized: engine batches are narrow derivations
        (plus at most one aggregate) of materialized frames, so recomputing
        them for their few consumers (dup check, touched-bucket scan, merge
        source) costs less than writing another copy.
        """
        snap = self.current()
        if snap.epochs.get(channel, -1) >= epoch_id:
            return None

        keys = snap.key_cols
        service_cols = {c for c in (delete_col, create_only_col) if c}
        new_schema = self._evolve(snap.schema(), batch.schema, service_cols)
        tag = publish_tag or f"epoch_{epoch_id}"
        now_ms = int(time.time() * 1000)

        def flag(col: str | None) -> str:
            return f"coalesce(CAST({sql_ident(col)} AS BOOLEAN), false)" if col else "false"

        batch = batch.selectExpr(
            "*", f"{_bucket_sql(keys, snap.n_buckets)} AS __bucket",
            f"{flag(delete_col)} AS __del", f"{flag(create_only_col)} AS __co")

        # multi-match guard (Iceberg rule): the merge silently keeps duplicate
        # key rows if the batch violates the unique-per-key contract, so fail
        # loudly instead when checking is enabled (default: on under pytest /
        # SPARK_CDC_CHECK_UNIQUE=1; off in production ingest — one extra
        # batch-sized aggregation job per table per epoch)
        if check_unique is None:
            check_unique = os.environ.get(
                "SPARK_CDC_CHECK_UNIQUE", "1" if "PYTEST_CURRENT_TEST" in os.environ else "0"
            ) == "1"
        if check_unique:
            dup = (
                batch.groupBy(*keys).count().where("count > 1")
                .limit(5).collect()
            )
            if dup:
                raise ValueError(
                    f"merge batch for {self.root} has duplicate keys (MERGE "
                    f"multi-match, first 5): {[tuple(r[k] for k in keys) for r in dup]}"
                )

        if snap.mode == "mor":
            files = snap.files
            deltas, seq, m = self._append_mor(batch, snap, new_schema, epoch_id, tag, now_ms)
        else:
            files, m = self._merge_cow(batch, snap, new_schema, epoch_id, tag, now_ms)
            deltas, seq = {}, snap.seq
        return {
            "base_version": snap.version,
            "schema_json": json.dumps(new_schema.jsonValue()),
            "files": files,
            "delta_files": deltas,
            "seq": seq,
            "epochs": {**snap.epochs, channel: epoch_id},
            "metrics": {"epoch": epoch_id, "channel": channel, "publish_tag": tag,
                        "buckets_total": snap.n_buckets, **m},
        }

    def _merge_cow(self, batch, snap, new_schema, epoch_id, tag, now_ms):
        """Copy-on-write merge: read only the buckets the batch touches,
        full-outer join them with the batch on the key and rewrite them;
        untouched buckets carry forward by manifest reference. Returns the
        new bucket → files map and the lineage counts."""
        keys = snap.key_cols
        touched = [r[0] for r in batch.select("__bucket").distinct().collect()]
        target = self._read_files(
            [f for b in touched for f in snap.files.get(str(b), [])], new_schema)
        s_cols = set(batch.columns)
        src = batch.select(
            *keys,
            "__bucket", "__del", "__co",
            *[
                (F.col(c) if c in s_cols else F.lit(None).cast(new_schema[c].dataType)).alias(c)
                for c in (f.name for f in new_schema.fields)
                if c not in keys and c not in ("publish_tag", "updated_ms")
            ],
        )
        merged, obs = self._merge_join(
            src, target, new_schema, keys, snap.n_buckets, tag, now_ms
        )
        new_files = self._write_buckets(merged, snap, f"e{epoch_id}_")
        try:
            m = obs.get
        except Exception:
            # empty written plan (all-delete / all-gated-out batch): the
            # Observation row never materializes and obs.get raises a JVM
            # AssertionError (ADVICE r01) — recompute counts directly so
            # streaming replay can't get permanently stuck on this epoch
            m = self._merge_counts(src, target, keys)
        files = dict(snap.files)
        for b in touched:           # touched buckets fully rewritten (CoW)
            files.pop(str(b), None)
        files.update(new_files)
        return files, {
            "rows_seen": m.get("rows_seen", 0),
            "rows_inserted": m.get("rows_inserted") or 0,
            "rows_updated": m.get("rows_updated") or 0,
            "rows_deleted": m.get("rows_deleted") or 0,
            "buckets_touched": len(touched),
        }

    def _append_mor(self, batch, snap, new_schema, epoch_id, tag, now_ms):
        """Merge-on-read write path: ONE shuffle into ONE key-sorted run, no
        read of existing data, no rewrite — per-epoch cost is O(batch), not
        O(touched table data), and the file count does not grow with the
        buckets touched. Readers resolve winners by ``__seq``; ``compact()``
        folds runs into the base asynchronously. This is the 10^10-event
        ingest shape (Iceberg v2 MoR / Hudi MOR equivalent). Returns the new
        run map (one ``str(seq)`` entry more; none for an empty batch), the
        merge seq and the lineage counts."""
        s_cols = set(batch.columns)
        seq = snap.seq + 1
        out = batch.selectExpr(
            *[
                f"{sql_str(tag)} AS publish_tag" if c == "publish_tag"
                else f"CAST({int(now_ms)} AS BIGINT) AS updated_ms" if c == "updated_ms"
                else sql_ident(c) if c in s_cols
                else f"CAST(NULL AS {sql_type(new_schema[c].dataType)}) AS {sql_ident(c)}"
                for c in (f.name for f in new_schema.fields)
            ],
            f"{int(seq)} AS {MOR_SEQ}",
            f"__del AS {MOR_DEL}",
            f"__co AS {MOR_CO}",
            "__bucket",
        )
        obs = Observation()
        out = out.observe(
            obs,
            F.expr("count(1) AS rows_seen"),
            F.expr(f"sum(CAST({MOR_DEL} AS BIGINT)) AS rows_delete_markers"),
        )
        run = self._write_run(out, snap.key_cols, f"d{epoch_id}_")
        try:
            m = obs.get
        except Exception:
            # empty batch: Observation never materializes (see _merge_cow)
            row = batch.selectExpr(
                "count(1) AS rows_seen",
                "sum(CAST(__del AS BIGINT)) AS rows_delete_markers",
            ).first()
            m = {k: int(row[k] or 0) for k in ("rows_seen", "rows_delete_markers")}
        if not m.get("rows_seen"):  # an empty write's schema-only file joins no run
            run = []
        deltas = dict(snap.delta_files)
        if run:
            deltas[str(seq)] = run
        return deltas, seq, {
            "rows_seen": m.get("rows_seen", 0),
            "rows_delete_markers": m.get("rows_delete_markers") or 0,
            "run_files": len(run),
            "mode": "mor",
            "seq": seq,
        }

    def _write_run(self, df: DataFrame, keys: list[str], prefix: str) -> list[str]:
        """Write ``df`` (carrying ``__bucket``) as ONE run under
        ``data/{prefix}{uuid}``, rows sorted by ``__bucket`` then key, and
        return its files. The repartition has no count, so AQE sizes it to
        the data: one task and one file for an epoch-sized batch, more for a
        large one. ``__bucket`` stays a stored column, so each file's footer
        bounds say which buckets it may hold."""
        out_dir = os.path.join(self.data_dir, f"{prefix}{uuid.uuid4().hex[:8]}")
        (df.repartition("__bucket").sortWithinPartitions("__bucket", *keys)
         .write.mode("overwrite").parquet(out_dir))
        return sorted(os.path.join(out_dir, f) for f in os.listdir(out_dir)
                      if f.endswith(".parquet"))

    def _write_buckets(self, df: DataFrame, snap: Snapshot, prefix: str,
                       sort_keys: tuple[str, ...] | list[str] = (),
                       max_rows: int = 0) -> dict[str, list[str]]:
        """Write ``df`` (carrying ``__bucket``) as a fresh bucket-partitioned
        directory under ``data/{prefix}{uuid}`` and return its bucket →
        files map — the one writer behind every base write: CoW merge, fold
        (compaction, MoR delete), rewrite and CoW delete; MoR appends write
        runs (``_write_run``). ``sort_keys`` key-sorts rows within each
        bucket; ``max_rows`` > 0 caps rows per file (a large bucket splits
        into files covering disjoint key ranges).

        Fan-out: ``min(n_buckets, 2 × engine_parallelism)`` tasks. The
        explicit count matters: without it AQE coalesces the exchange toward
        the 64MB advisory size and the write runs on a handful of tasks
        whatever the cluster width. hash(bucket) % n keeps each bucket
        wholly in one task, so a bucket gets one file (per ``max_rows``)."""
        n = max(1, min(snap.n_buckets, 2 * engine_parallelism(self.spark)))
        out = df.repartition(n, "__bucket")
        if sort_keys:
            out = out.sortWithinPartitions("__bucket", *sort_keys)
        writer = out.write.partitionBy("__bucket").mode("overwrite")
        if max_rows > 0:
            writer = writer.option("maxRecordsPerFile", max_rows)
        out_dir = os.path.join(self.data_dir, f"{prefix}{uuid.uuid4().hex[:8]}")
        writer.parquet(out_dir)
        return self._list_bucket_files(out_dir)

    def _list_bucket_files(self, out_dir: str) -> dict[str, list[str]]:
        out: dict[str, list[str]] = {}
        for d in os.listdir(out_dir):
            if d.startswith("__bucket="):
                b = d.split("=", 1)[1]
                out[b] = sorted(
                    os.path.join(out_dir, d, f)
                    for f in os.listdir(os.path.join(out_dir, d))
                    if f.endswith(".parquet")
                )
        return out

    def compact(self, max_delta_files: int = 0,
                target_file_rows: int = 4_000_000) -> dict[str, Any]:
        """Fold every MoR run into the base once the table holds more than
        ``max_delta_files`` runs (see ``_fold``): winner rows keep their
        ``__seq``; the runs' buckets are rewritten, the rest carry over. The
        amortized half of the append-only write path.

        Rewritten buckets come out CLUSTERED: rows are key-sorted within
        each bucket and files are capped at ``target_file_rows`` rows (0
        disables the cap), so a large bucket splits into files covering
        disjoint key ranges. The manifest's per-file bounds then let
        ``read_for_keys`` / ``read_where`` prune WITHIN a bucket, and
        parquet row-group stats become monotone for pushed key predicates —
        the Hudi/Iceberg "write fast, cluster on compaction" layout."""
        snap = self.current()
        if snap.mode != "mor" or len(snap.delta_files) <= max_delta_files:
            return {"compacted_buckets": 0}
        return self._fold(snap, [], max_rows=target_file_rows)

    def _fold(self, snap: Snapshot, buckets: list[int], drop=None,
              max_rows: int = 0,
              metrics: dict[str, Any] | None = None) -> dict[str, Any]:
        """Fold ALL runs of a MoR snapshot, plus the base of ``buckets``,
        into fresh base files and commit with no runs left (a run spans
        buckets, so it cannot be half-folded). Reads the base of
        ``buckets`` ∪ the runs' buckets (one column-pruned job finds those)
        and every run, resolves keeping each winner's ``__seq``/``__co``,
        drops rows matching ``drop`` (a null ``drop`` keeps the row) and
        writes them key-sorted with ``_write_buckets`` (``max_rows`` per
        file, 0 = no cap). Deleted keys vanish
        entirely: every row at or before their delete cut is folded away
        too, so nothing can resurrect. Returns the committed metrics
        (``metrics`` plus the fold's own counts)."""
        keys = snap.key_cols
        schema = snap.schema()
        mor_schema = self._mor_schema(schema)
        bexpr = _bucket_expr(keys, snap.n_buckets)
        runs = self._runs(snap)
        todo = set(buckets)
        if runs:
            key_schema = T.StructType([schema[k] for k in keys])
            todo |= {r[0] for r in self._read_files(runs, key_schema)
                     .select(bexpr).distinct().collect()}
        files = [f for b in sorted(todo) for f in snap.files.get(str(b), [])] + runs
        # driver-side stat of the inputs being folded (bounded metadata
        # traffic): lets replay artifacts separate compaction-epoch cost
        # from host noise (BENCH_ENDURANCE per-epoch bytes/files)
        in_bytes = 0
        for f in files:
            try:
                in_bytes += os.path.getsize(f)
            except OSError:
                pass
        kept = self._resolve(self._read_files(files, mor_schema), schema, keys,
                             keep_service=True)
        if drop is not None:
            kept = kept.where(~F.coalesce(drop, F.lit(False)))
        new_base = self._write_buckets(kept.withColumn("__bucket", bexpr), snap,
                                       "c", sort_keys=keys, max_rows=max_rows)
        base = {b: fl for b, fl in snap.files.items() if int(b) not in todo}
        base.update(new_base)
        metrics = {**(metrics or {}),
                   "compacted_buckets": len(todo),
                   "compacted_files": len(files),
                   "compacted_bytes": in_bytes,
                   "output_files": sum(len(fl) for fl in new_base.values())}
        self._commit(self._next(snap, files=base, delta_files={}, metrics=metrics))
        return metrics

    def expire_snapshots(
        self,
        keep_last: int = 10,
        orphan_grace_ms: int = 3_600_000,
    ) -> dict[str, Any]:
        """Reclaim storage + metadata: drop manifests older than the last
        ``keep_last`` versions and delete every data file no kept manifest
        references — the Iceberg ``expire_snapshots`` +
        ``remove_orphan_files`` pair, which the 10^10-event posture needs
        (per-epoch commits across the channel tables otherwise grow the
        meta dir and dead post-compaction files without bound).

        Unreferenced files younger than ``orphan_grace_ms`` are kept: a
        CONCURRENT prepare_upsert writes its data files BEFORE its commit
        references them, so fresh orphans may be an in-flight commit (the
        same age-threshold rule Iceberg's orphan-file action uses).
        Time-travel to expired versions is gone; readers pinned to a kept
        manifest are unaffected.  Driver-side metadata traffic only."""
        import re as _re

        cur_v = self.current().version
        versions = sorted(
            int(m.group(1))
            for f in os.listdir(self.meta_dir)
            if (m := _re.fullmatch(r"v(\d+)\.json", f))
        )
        cutoff = cur_v - max(1, int(keep_last)) + 1
        keep = [v for v in versions if v >= cutoff]
        drop = [v for v in versions if v < cutoff]
        referenced: set[str] = set()
        for v in keep:
            s = Snapshot.from_json(
                self.io.read(os.path.join(self.meta_dir, f"v{v}.json")))
            for fl in list(s.files.values()) + list(s.delta_files.values()):
                referenced.update(os.path.abspath(p) for p in fl)
        now = time.time()
        removed_files = removed_bytes = 0
        for droot, _dirs, names in os.walk(self.data_dir):
            for n in names:
                p = os.path.abspath(os.path.join(droot, n))
                if p in referenced:
                    continue
                try:
                    st = os.stat(p)
                    if (now - st.st_mtime) * 1000 < orphan_grace_ms:
                        continue
                    os.remove(p)
                    removed_files += 1
                    removed_bytes += st.st_size
                except OSError:
                    continue
        for v in drop:
            try:
                os.remove(os.path.join(self.meta_dir, f"v{v}.json"))
            except OSError:
                pass
        # prune now-empty data dirs (cosmetic; ignore races)
        for droot, dirs, names in os.walk(self.data_dir, topdown=False):
            if droot != self.data_dir and not dirs and not names:
                try:
                    os.rmdir(droot)
                except OSError:
                    pass
        return {"expired_manifests": len(drop),
                "kept_manifests": len(keep),
                "removed_files": removed_files,
                "removed_bytes": removed_bytes}

    def replace_all(self, df: DataFrame, publish_tag: str = "snapshot") -> dict[str, Any]:
        """CREATE-OR-REPLACE: rewrite the ENTIRE table content from ``df`` and
        publish it as ONE atomic manifest swap — the engine-grade form of
        ElasticsearchPublisher's bulk-load-into-new-index + alias flip
        (``databuilder/publisher/elasticsearch_publisher.py:112-125``):
        readers resolve through the CURRENT pointer, so they see either the
        old snapshot or the complete new one, never a half-built index. Old
        data files stay on disk for in-flight readers (the reference keeps
        old indices the same way, deleting them on the NEXT publish).
        Epoch ledgers carry over untouched; MoR tables restart with a clean
        base (no deltas) at the next seq."""
        snap = self.current()
        keys = snap.key_cols
        new_schema = self._evolve(snap.schema(), df.schema, set())
        data_cols = [f.name for f in new_schema.fields]
        now_ms = int(time.time() * 1000)
        d_cols = set(df.columns)
        out = df.select(
            *[
                (
                    F.lit(publish_tag).alias(c) if c == "publish_tag"
                    else F.lit(now_ms).cast("long").alias(c) if c == "updated_ms"
                    else (F.col(c) if c in d_cols
                          else F.lit(None).cast(new_schema[c].dataType)).alias(c)
                )
                for c in data_cols
            ],
            _bucket_expr(keys, snap.n_buckets).alias("__bucket"),
        )
        if snap.mode == "mor":
            # base files in a MoR table are read through the service schema;
            # stamp a fresh seq so later deltas (higher seq) win on read
            out = out.select(
                "*",
                F.lit(snap.seq + 1).alias(MOR_SEQ),
                F.lit(False).alias(MOR_DEL),
                F.lit(False).alias(MOR_CO),
            )
        new_files = self._write_buckets(out, snap, "snap_")
        metrics = {"publish_tag": publish_tag, "snapshot_buckets": len(new_files)}
        self._commit(self._next(
            snap,
            schema_json=json.dumps(new_schema.jsonValue()),
            files=new_files,
            delta_files={},
            seq=snap.seq + 1 if snap.mode == "mor" else snap.seq,
            metrics=metrics,
        ))
        return metrics

    def commit_prepared(self, prep: dict[str, Any]) -> dict[str, Any]:
        """Cheap phase: atomically publish a prepared merge (manifest write +
        pointer swap). Must be called in pipeline dependency order."""
        snap = self.current()
        if snap.version != prep["base_version"]:
            raise RuntimeError(
                f"concurrent commit detected on {self.root}: base "
                f"{prep['base_version']} != current {snap.version}"
            )
        self._commit(self._next(
            snap,
            schema_json=prep["schema_json"],
            files=prep["files"],
            delta_files=prep["delta_files"],
            seq=prep["seq"],
            epochs=prep["epochs"],
            metrics=prep["metrics"],
        ))
        return prep["metrics"]

    # ---- delete (staleness path) ----------------------------------------

    def delete_where(self, condition, max_delete_pct: float | None = None,
                     guard_group_col: str | None = None) -> dict[str, Any]:
        """Set-based DELETE with the reference's staleness safety guard:
        abort when the stale share (overall, or within any ``guard_group_col``
        group) reaches ``max_delete_pct`` (reference default 5%,
        ``neo4j_staleness_removal_task.py:187-253``). CoW rewrites the
        touched buckets; MoR folds them together with every run
        (``_fold``)."""
        snap = self.current()
        schema = snap.schema()
        full = self.read()  # mode-aware (MoR reads resolve winners)
        cond = condition if not isinstance(condition, str) else F.expr(condition)

        if max_delete_pct is not None:
            gb = [guard_group_col] if guard_group_col else []
            stats = (
                full.groupBy(*gb)
                .agg(
                    F.count(F.lit(1)).alias("total"),
                    F.sum(cond.cast("long")).alias("stale"),
                )
                .collect()
            )
            for r in stats:
                if r["total"] and (r["stale"] or 0) / r["total"] >= max_delete_pct:
                    grp = r[guard_group_col] if guard_group_col else "<all>"
                    raise RuntimeError(
                        f"staleness guard: {r['stale']}/{r['total']} rows stale in "
                        f"group {grp} ≥ {max_delete_pct:.0%} — aborting delete"
                    )

        bexpr = _bucket_expr(snap.key_cols, snap.n_buckets)
        per_bucket = (
            full.where(cond)
            .groupBy(bexpr.alias("b"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        touched = [r["b"] for r in per_bucket]
        rows_deleted = sum(r["n"] for r in per_bucket)
        if not touched:
            return {"rows_deleted": 0, "buckets_touched": 0}

        metrics = {
            "rows_deleted": rows_deleted,
            "buckets_touched": len(touched),
            "deleted_per_bucket": {str(r["b"]): r["n"] for r in per_bucket},
        }
        if snap.mode == "mor":
            self._fold(snap, touched, drop=cond, metrics=metrics)
            return metrics
        files = [f for b in touched for f in snap.files.get(str(b), [])]
        kept = (
            self._read_files(files, schema)
            .where(~F.coalesce(cond, F.lit(False)))  # null cond ⇒ keep
            .withColumn("__bucket", bexpr)
        )
        new_files = self._write_buckets(kept, snap, "del_")
        nf = dict(snap.files)
        for b in touched:
            nf.pop(str(b), None)
        nf.update(new_files)
        self._commit(self._next(snap, files=nf, metrics=metrics))
        return metrics


class SnapshotLake:
    """A warehouse of :class:`SnapshotTable` (directory per table)."""

    def __init__(self, spark: SparkSession, warehouse: str,
                 manifest_io: ManifestIO | None = None):
        self.spark = spark
        self.warehouse = warehouse
        self.manifest_io = manifest_io or ManifestIO()
        os.makedirs(warehouse, exist_ok=True)

    def _root(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def exists(self, name: str) -> bool:
        meta = os.path.join(self._root(name), "meta")
        # v0.json is the commit point; CURRENT may lag it after a crash
        return (self.manifest_io.exists(os.path.join(meta, "CURRENT"))
                or self.manifest_io.exists(os.path.join(meta, "v0.json")))

    def create_table(
        self,
        name: str,
        schema: T.StructType,
        key_cols: list[str],
        n_buckets: int = 64,
        with_lineage_cols: bool = True,
        if_not_exists: bool = True,
        mode: str = "cow",
    ) -> SnapshotTable:
        t = SnapshotTable(self.spark, self._root(name), self.manifest_io)
        if self.exists(name):
            if if_not_exists:
                # returning an existing table under DIFFERENT semantics
                # would silently ignore the caller's request (e.g. a mor
                # pipeline quietly running against cow tables) — hard
                # error on mode/key_cols. n_buckets is a PHYSICAL layout
                # parameter whose on-disk value is authoritative (every
                # merge path reads snap.n_buckets), so a get-or-open
                # caller with a defaulted --buckets adopts it with a
                # warning instead of failing.
                cur = t.current()
                mismatches = [
                    f"{what}: requested {req!r}, on disk {got!r}"
                    for what, req, got in (
                        ("mode", mode, cur.mode),
                        ("key_cols", list(key_cols), list(cur.key_cols)),
                    )
                    if req != got
                ]
                if mismatches:
                    raise ValueError(
                        f"table {name} exists with different structure — "
                        + "; ".join(mismatches)
                    )
                if n_buckets != cur.n_buckets:
                    warnings.warn(
                        f"table {name}: requested n_buckets={n_buckets} but "
                        f"on-disk layout has {cur.n_buckets}; adopting the "
                        f"on-disk value", stacklevel=2)
                return t
            raise ValueError(f"table {name} exists")
        names = {f.name for f in schema.fields}
        fields = list(schema.fields)
        if with_lineage_cols:
            fields += [
                T.StructField(c, dt, True) for c, dt in LINEAGE_COLS if c not in names
            ]
        full = T.StructType(fields)
        for k in key_cols:
            if k not in {f.name for f in full.fields}:
                raise ValueError(f"key column {k} not in schema")
        os.makedirs(t.meta_dir, exist_ok=True)
        os.makedirs(t.data_dir, exist_ok=True)
        if mode not in ("cow", "mor"):
            raise ValueError(f"unknown table mode {mode}")
        t._commit(
            Snapshot(
                version=0,
                schema_json=json.dumps(full.jsonValue()),
                key_cols=list(key_cols),
                n_buckets=n_buckets,
                files={},
                epochs={},
                mode=mode,
            )
        )
        return t

    def table(self, name: str) -> SnapshotTable:
        if not self.exists(name):
            raise ValueError(f"no such table: {name}")
        return SnapshotTable(self.spark, self._root(name), self.manifest_io)
