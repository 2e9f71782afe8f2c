"""LakeTable: bucketed parquet table with versioned JSON manifests.

Layout on disk::

    <root>/VERSION              current snapshot version (int, atomic replace)
    <root>/manifest-<v>.json    snapshot manifest
    <root>/data/<commit-uuid>/_bucket=<k>/part-*.parquet   immutable data

Manifest schema::

    {
      "version": 3,
      "parent": 2,
      "key_cols": ["repo", "path"],
      "n_buckets": 64,
      "schema": <Spark StructType json>,
      "buckets": {"0": ["data/u1/_bucket=0/f.parquet", ...], ...},
      "properties": {...},          # free-form (per-partition offsets live here too)
      "stats": {"rows": 12345},
      "file_stats": {"data/u1/_bucket=0/f.parquet":
                     {"size": [min, max, null_count], ...}, ...},
      "deltas": ["data/u2/part-0.parquet", ...],   # merge-on-read deltas
      "delta_buckets": {"data/u2/part-0.parquet": [0, 5, ...]},
      "delta_khashes": {"data/u2/part-0.parquet": [khash, ...]}
    }

``file_stats`` carries parquet footer min/max per primitive column,
harvested at commit time (driver-local metadata reads): value-range scans
prune files the way Iceberg's column stats do — see ``files_for``.

Commit protocol (single commit point, like Iceberg's metadata pointer):
write ``manifest-<v+1>.json`` fully, then atomically ``os.replace`` a tmp
file onto ``VERSION``. Readers load VERSION then the manifest — they see
either the old snapshot or the new one, never a partial write. Mirrors the
reference's atomic position persistence (``pkg/position/store.go:55-72``).
"""

from __future__ import annotations

import bisect
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

BUCKET_COL = "_bucket"
# Stored key-hash column: crc32 of the unit-separated key (the same hash
# the bucket id is the modulus of). Written sorted within each data file,
# so the parquet footer min/max harvested into the manifest's file_stats
# gives every file a tight key-hash RANGE — the handle for file-granular
# copy-on-write (merge.py prunes a bucket's files to the ones whose range
# can contain a batch key) and for key-value data skipping generally.
KHASH_COL = "_khash"
DELETED_COL = "_deleted"
# Unit separator: never appears in keys, so concat_ws is injective.
KEY_SEP = "\x1f"

# Cap on an exact key-hash set the driver holds for pruning: per bucket in
# a batch's key info (above it, pruning falls back to the [lo, hi] range;
# bounds the driver transfer at n_buckets * (cap+1) longs regardless of
# batch size), and per delta file in the manifest's delta_khashes.
KEY_PRUNE_CAP = 1024


class CommitConflict(Exception):
    """Another writer committed first; caller should re-read and retry."""


class DeltaDeclined(Exception):
    """append_delta's ``before_link`` turned the written delta down; its
    directory is removed and the table is unchanged."""


COMMIT_ATTEMPTS = 5


def retry_on_conflict(commit):
    """Run ``commit()`` until no other writer beats it: the optimistic-
    concurrency retry every writer of this table shares — the analog of
    Iceberg commit.retry and of the reference's conflict recompute
    (pkg/pipeline/sink/bulkwriter.go:188-266). ``commit`` must re-read the
    snapshot it builds on. COMMIT_ATTEMPTS attempts on the reference
    backoff ladder, 0.2 * 2^n s (retry.go:13-15); the last conflict
    propagates."""
    for attempt in range(COMMIT_ATTEMPTS - 1):
        try:
            return commit()
        except CommitConflict:
            time.sleep(0.2 * (2**attempt))
    return commit()


def khash_expr(key_cols: list[str]):
    """crc32 of the unit-separated key columns — the stored ``_khash``.

    crc32 is a JVM builtin (whole-stage codegen, no Python), and CRC-32/IEEE
    matches the reference's default shard strategy ``crc32_ieee_uint32``
    (``pkg/realtime/helpers.go:104-123``), so routing is reproducible
    cross-language — validated against the README golden vectors in tests.

    COLLISIONS: crc32 is 32-bit, so two distinct keys can share a
    ``_khash`` (expected around ~80k keys per bucket-sized population by
    birthday math). Colliding keys land in the same bucket and inside the
    same file key-hash ranges, and every consumer of ``_khash`` treats it
    as a PRUNING hint, never an identity: the file-granular COW in
    merge.py rewrites any file whose range contains a batch key's hash —
    an equal hash is always in-range, so a colliding resident key forces
    a rewrite (extra IO), never an unsafe carry; ``read_keys`` and the
    merge window re-filter/re-group by the REAL key columns after the
    hash-pruned scan. Net effect of a collision is a marginally wider
    scan/rewrite set — correctness is unaffected.
    """
    key = F.concat_ws(KEY_SEP, *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in key_cols])
    return F.crc32(key)


def bucket_expr(key_cols: list[str], n_buckets: int):
    """Bucket id for a row: ``khash_expr`` mod the bucket count."""
    return F.pmod(khash_expr(key_cols), F.lit(n_buckets)).cast("int")


@dataclass
class Snapshot:
    version: int
    parent: int | None
    key_cols: list[str]
    n_buckets: int
    schema: T.StructType
    buckets: dict[int, list[str]]  # bucket id -> relative file paths
    properties: dict[str, Any]
    stats: dict[str, Any]
    # relative file path -> {column: [min, max, null_count]} for primitive
    # columns (parquet footer statistics, harvested at commit time) — the
    # Iceberg data-skipping analog: value-predicate scans prune FILES, not
    # just buckets. Absent for pre-stats manifests (empty dict).
    file_stats: dict[str, dict[str, list]] = None  # type: ignore[assignment]
    # relative file path -> bytes on disk (harvested in the same commit
    # walk): sizes the merge's write exchange to the DATA it actually
    # rewrites instead of the layout dial (see _merge_once), and feeds
    # size-aware compaction policies. Absent for older manifests.
    file_sizes: dict[str, int] = None  # type: ignore[assignment]
    # Merge-on-read DELTA files (relative paths, one small file per delta
    # commit, spanning buckets): rows appended by the no-rewrite tail
    # path. A key may live in base files AND deltas simultaneously; reads
    # resolve by the (last_offset, last_seq) guard with base winning full
    # ties (see LakeTable.read). Bounded by the delta-fold policy in
    # cdc/apply.py + maintenance.compact_deltas. Absent pre-round-5.
    deltas: list[str] = None  # type: ignore[assignment]
    # delta file -> sorted bucket ids its rows hash into (recorded at
    # append time from the batch's key info — zero extra jobs):
    # lets snapshot diffs and maintenance scope delta work to O(touched
    # buckets) instead of O(table). Missing entries degrade to "could be
    # any bucket" (conservative).
    delta_buckets: dict[str, list[int]] = None  # type: ignore[assignment]
    # delta file -> sorted distinct _khash values of its rows, recorded at
    # append time from the batch's exact key info (already on the driver,
    # no extra job) when it holds at most KEY_PRUNE_CAP hashes: point
    # lookups and rewrite merges read only the deltas that hold a wanted
    # hash (see deltas_for). A delta without an entry — no exact info, too
    # many keys, pre-map manifests — falls back to its _khash min/max.
    delta_khashes: dict[str, list[int]] = None  # type: ignore[assignment]


@dataclass
class BatchKeyInfo:
    """Which key hashes a batch touches within one bucket — the driver-side
    handle for file pruning. ``khashes``: the exact sorted distinct crc32
    set when it fit under KEY_PRUNE_CAP, else None (use [lo, hi])."""

    khashes: list[int] | None
    lo: int
    hi: int

    def may_hit(self, file_min: int, file_max: int) -> bool:
        """Could this batch touch a file whose stored _khash range is
        [file_min, file_max]? Conservative: False ONLY when provably
        disjoint."""
        if self.khashes is not None:
            i = bisect.bisect_left(self.khashes, file_min)
            return i < len(self.khashes) and self.khashes[i] <= file_max
        return not (self.hi < file_min or self.lo > file_max)


def file_may_hold(snap: Snapshot, rel: str, info: BatchKeyInfo) -> bool:
    """Could file ``rel`` hold a key of ``info``? Judged by the file's
    stored _khash [min, max] (manifest file_stats); files without a
    null-free range — pre-khash data, failed harvest — conservatively
    may."""
    st = (snap.file_stats or {}).get(rel, {}).get(KHASH_COL)
    if st and st[0] is not None and st[1] is not None and not st[2]:
        return info.may_hit(int(st[0]), int(st[1]))
    return True


def deltas_for(snap: Snapshot, key_info: dict[int, BatchKeyInfo] | None) -> list[str]:
    """The pending delta files that may hold a key of ``key_info`` (per
    bucket, as batch_key_info builds it; None = every delta) — the one
    delta-pruning routine for point lookups and rewrite merges. A delta
    with a recorded exact hash set (``delta_khashes``) is read only when
    one of its hashes is wanted in that hash's bucket; any other delta
    only when its _khash range may hold a wanted hash."""
    rels = list(snap.deltas or [])
    if key_info is None:
        return rels
    exact = snap.delta_khashes or {}

    def hit(rel: str) -> bool:
        hashes = exact.get(rel)
        if hashes is None:
            return any(file_may_hold(snap, rel, info) for info in key_info.values())
        for h in hashes:
            info = key_info.get(h % snap.n_buckets)
            if info is not None and info.may_hit(h, h):
                return True
        return False

    return [rel for rel in rels if hit(rel)]


@dataclass
class _StagedDelta:
    """A written, not yet linked delta commit directory (append_delta)."""

    rel_dir: str
    schema: T.StructType       # the schema its file was written under
    planned_on: T.StructType   # the table schema when it was written
    sizes: dict[str, int]      # relative file path -> bytes
    stats: dict[str, dict]     # relative file path -> footer stats


class LakeTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    # ------------------------------------------------------------------ DDL
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        key_cols: list[str],
        n_buckets: int = 64,
        properties: dict[str, Any] | None = None,
    ) -> "LakeTable":
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        if os.path.exists(os.path.join(root, "VERSION")):
            raise FileExistsError(f"table already exists at {root}")
        table = cls(spark, root)
        snap = Snapshot(
            version=0,
            parent=None,
            key_cols=list(key_cols),
            n_buckets=n_buckets,
            schema=cls._with_engine_cols(schema, key_cols),
            buckets={},
            properties=properties or {},
            stats={"rows": 0},
            file_stats={},
            file_sizes={},
            deltas=[],
            delta_buckets={},
            delta_khashes={},
        )
        table._write_manifest(snap)
        table._swap_version(0, expected_parent=None)
        return table

    @classmethod
    def exists(cls, root: str) -> bool:
        return os.path.exists(os.path.join(root, "VERSION"))

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "LakeTable":
        if not cls.exists(root):
            raise FileNotFoundError(f"no lake table at {root}")
        return cls(spark, root)

    @staticmethod
    def _with_engine_cols(schema: T.StructType, key_cols: list[str]) -> T.StructType:
        """Engine-managed columns appended after user columns.

        ``last_offset``/``last_seq``/``last_op`` carry the monotonic
        (offset, seq) LWW guard (the exactly-once mechanism — seq persists
        so a transaction split across micro-batches still orders
        correctly); ``_deleted`` retains tombstones so a
        replayed stale insert after a delete stays dead (SURVEY §7 hard
        part 1: delete-then-reinsert ordering).
        """
        names = {f.name for f in schema.fields}
        fields = list(schema.fields)
        for name, typ in [
            ("last_offset", T.LongType()),
            ("last_seq", T.LongType()),
            ("last_op", T.StringType()),
            (DELETED_COL, T.BooleanType()),
            ("updated_at", T.TimestampType()),
            (KHASH_COL, T.LongType()),
        ]:
            if name not in names:
                fields.append(T.StructField(name, typ, True))
        return T.StructType(fields)

    # ----------------------------------------------------------- snapshots
    def current_version(self) -> int:
        with open(os.path.join(self.root, "VERSION")) as f:
            return int(f.read().strip())

    def snapshot(self, version: int | None = None) -> Snapshot:
        v = self.current_version() if version is None else version
        with open(os.path.join(self.root, f"manifest-{v}.json")) as f:
            m = json.load(f)
        return Snapshot(
            version=m["version"],
            parent=m.get("parent"),
            key_cols=m["key_cols"],
            n_buckets=m["n_buckets"],
            schema=T.StructType.fromJson(m["schema"]),
            buckets={int(k): v for k, v in m["buckets"].items()},
            properties=m.get("properties", {}),
            stats=m.get("stats", {}),
            file_stats=m.get("file_stats", {}),
            file_sizes=m.get("file_sizes", {}),
            deltas=m.get("deltas", []),
            delta_buckets=m.get("delta_buckets", {}),
            delta_khashes=m.get("delta_khashes", {}),
        )

    def _write_manifest(self, snap: Snapshot) -> None:
        m = {
            "version": snap.version,
            "parent": snap.parent,
            "key_cols": snap.key_cols,
            "n_buckets": snap.n_buckets,
            "schema": snap.schema.jsonValue(),
            "buckets": {str(k): v for k, v in snap.buckets.items()},
            "properties": snap.properties,
            "stats": snap.stats,
            "file_stats": snap.file_stats or {},
            "file_sizes": snap.file_sizes or {},
            "deltas": snap.deltas or [],
            "delta_buckets": snap.delta_buckets or {},
            "delta_khashes": snap.delta_khashes or {},
        }
        path = os.path.join(self.root, f"manifest-{snap.version}.json")
        tmp = path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            # one C-encoded string: json.dump streams through the pure-
            # Python iterencode, thousands of small writes per manifest
            f.write(json.dumps(m))
            f.flush()
            os.fsync(f.fileno())
        # EXCLUSIVE create: the manifest filename is the real commit lock.
        # Two racing writers both targeting version v must not clobber each
        # other — os.link fails atomically if the manifest already exists,
        # and the loser retries on the new snapshot (CommitConflict).
        try:
            os.link(tmp, path)
        except FileExistsError as e:
            raise CommitConflict(f"manifest v{snap.version} already committed by another writer") from e
        finally:
            os.unlink(tmp)

    def _swap_version(self, new_version: int, expected_parent: int | None) -> None:
        """Atomic commit point with optimistic concurrency."""
        vpath = os.path.join(self.root, "VERSION")
        if expected_parent is not None:
            cur = self.current_version()
            if cur != expected_parent:
                raise CommitConflict(f"expected v{expected_parent}, found v{cur}")
        tmp = vpath + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(str(new_version))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, vpath)

    # ---------------------------------------------------------------- read
    def files_for(
        self,
        buckets: list[int] | None = None,
        version: int | None = None,
        stats_filter: dict[str, tuple] | None = None,
    ) -> list[str]:
        """Relative data-file paths for a scan, pruned two ways:

        * ``buckets`` — key-hash pruning (Iceberg partition-pruning analog);
        * ``stats_filter`` — ``{column: (lo, hi)}`` conjunctive value
          ranges checked against the manifest's per-file parquet footer
          min/max (Iceberg data-skipping analog): a file is skipped only
          when its recorded range PROVABLY misses ``[lo, hi]`` (either
          bound may be None for half-open). Files without stats for a
          column are kept; NULL cells never satisfy a range predicate, so
          null counts don't block skipping. Callers must still apply the
          real predicate — pruning is an optimization, never a filter.
        """
        snap = self.snapshot(version)
        want = snap.buckets if buckets is None else {b: snap.buckets.get(b, []) for b in buckets}
        rels = [p for paths in want.values() for p in paths]
        if not stats_filter:
            return rels
        fs = snap.file_stats or {}

        def keep(rel: str) -> bool:
            st = fs.get(rel)
            if not st:
                return True
            for col, bounds in stats_filter.items():
                lo, hi = bounds
                cs = st.get(col)
                if not cs:
                    continue
                mn, mx = cs[0], cs[1]
                try:
                    if lo is not None and mx < lo:
                        return False
                    if hi is not None and mn > hi:
                        return False
                except TypeError:  # incomparable filter/stat types: keep
                    continue
            return True

        return [r for r in rels if keep(r)]

    def read(
        self,
        buckets: list[int] | None = None,
        include_deleted: bool = False,
        version: int | None = None,
        stats_filter: dict[str, tuple] | None = None,
        files: list[str] | None = None,
        resolve_deltas: bool | None = None,
    ) -> DataFrame:
        """Read a snapshot (optionally pruned to specific buckets and/or
        by per-file column statistics — see :meth:`files_for`).

        Bucket pruning is the local analog of Iceberg partition pruning:
        a MERGE micro-batch only ever reads the buckets its keys hash to.
        ``files`` (relative paths from the snapshot's own listing)
        overrides bucket/stats pruning entirely — the file-granular COW
        read path, where merge.py has already picked the exact overlap set.

        ``resolve_deltas``: fold pending merge-on-read delta rows (see
        :meth:`append_delta`) into the result by the (offset, seq) guard.
        Default: on for logical reads (``files=None``), off for explicit
        file scans — merge.py folds deltas itself with bucket scoping.

        ``version=None`` is resolved ONCE, here: the base-file listing and
        the delta listing come from the same snapshot even when a fold
        commits while the read is being planned.
        """
        snap = self.snapshot(version)
        if resolve_deltas is None:
            resolve_deltas = files is None
        rels = (
            list(files)
            if files is not None
            else self.files_for(buckets=buckets, version=snap.version, stats_filter=stats_filter)
        )
        files = [os.path.join(self.root, p) for p in rels]
        if not files:
            df = self.spark.createDataFrame([], snap.schema)
        else:
            # The manifest IS the schema authority: reading with the
            # snapshot schema null-pads columns missing from
            # pre-evolution files (Spark's parquet reader clips per file)
            # and skips the mergeSchema footer sweep, which read every
            # file's footer at PLAN time — ~0.5s of serial driver floor
            # per incremental merge on a 160-file scan set. Types never
            # narrow (merge_schemas), so the snapshot schema is
            # read-compatible with every live file.
            df = self.spark.read.schema(snap.schema).parquet(*files)
            df = align_to_schema(df, snap.schema)
        if resolve_deltas and (snap.deltas or []):
            delta = self.delta_rows(version=snap.version, buckets=buckets)
            df = resolve_merge_on_read(df, delta, snap.key_cols)
        if not include_deleted:
            df = df.filter(~F.coalesce(F.col(DELETED_COL), F.lit(False)))
        return df

    def delta_rows(
        self,
        version: int | None = None,
        buckets: list[int] | None = None,
        delta_files: list[str] | None = None,
    ) -> DataFrame:
        """Pending merge-on-read delta rows (schema-aligned, tombstones
        included). Small by construction — the fold policy bounds how much
        delta a snapshot can carry (cdc/apply.py)."""
        snap = self.snapshot(version)
        rels = snap.deltas if delta_files is None else delta_files
        if not rels:
            return self.spark.createDataFrame([], snap.schema)
        paths = [os.path.join(self.root, p) for p in rels]
        df = align_to_schema(self.spark.read.schema(snap.schema).parquet(*paths), snap.schema)
        if buckets is not None:
            df = df.filter(
                bucket_expr(snap.key_cols, snap.n_buckets).isin([int(b) for b in buckets])
            )
        return df

    def append_delta(
        self,
        df: DataFrame,
        properties_fn=None,
        new_schema: T.StructType | None = None,
        key_info: dict[int, BatchKeyInfo] | None = None,
        before_link=None,
    ) -> Snapshot:
        """Merge-on-read commit: append ``df`` (already normalized to the
        engine row shape — payload + last_offset/last_seq/last_op/_deleted/
        updated_at) as ONE small delta file, touching no base file.

        Two steps: WRITE the file into a fresh commit directory (the one
        Spark job), then LINK it into a new manifest. Only the link is
        retried on CommitConflict: it re-reads the snapshot and re-merges
        the properties through ``properties_fn``, and keeps the written
        file unless the winning commit changed the table schema (then the
        file is written again under the widened schema).

        ``before_link``: called once between the two steps; it returns the
        key info to link with (for a caller that learns it from an
        Observation on the write job) or None to turn the delta down — the
        written directory is removed and DeltaDeclined raised, leaving the
        table untouched.

        ``key_info``: the batch's per-bucket key info, covering every key
        of ``df``. Its buckets become the delta's ``delta_buckets`` entry;
        when every bucket's set is exact and together they hold at most
        KEY_PRUNE_CAP hashes, the union is recorded as its
        ``delta_khashes`` entry, so lookups skip deltas that lack their
        keys; otherwise the delta is pruned by its _khash range. Without
        key info neither entry is recorded (read as "any bucket").

        The write is O(batch): no target read, no guard window, no
        rewrite. The (offset, seq) guard DEFERS to read time — readers
        resolve base∪delta per key by max (last_offset, last_seq), base
        winning full ties, which is exactly the rewrite-merge's window
        order, so delta-then-read equals merge-then-read (pinned in
        tests/test_delta_merge.py). A crash-replayed delta commit appends
        identical rows that lose/tie the same resolution — idempotent in
        effect, and folded away by compact_deltas.
        """
        base = self.snapshot()
        staged = self._write_delta(df, base, new_schema or base.schema)
        if before_link is not None:
            key_info = before_link()
            if key_info is None:
                shutil.rmtree(os.path.join(self.root, staged.rel_dir), ignore_errors=True)
                raise DeltaDeclined(staged.rel_dir)

        def link() -> Snapshot:
            nonlocal base, staged
            if self.current_version() != base.version:
                base = self.snapshot()
                if base.schema != staged.planned_on:
                    shutil.rmtree(os.path.join(self.root, staged.rel_dir), ignore_errors=True)
                    staged = self._write_delta(df, base, merge_schemas(base.schema, staged.schema))
            return self._link_delta(base, staged, properties_fn, key_info)

        return retry_on_conflict(link)

    def _write_delta(self, df: DataFrame, base: Snapshot, schema: T.StructType) -> "_StagedDelta":
        """The write step of append_delta: ``df`` as one khash-sorted file
        in a new commit directory, with its size and footer stats."""
        rel_dir = os.path.join("data", uuid.uuid4().hex)
        out_dir = os.path.join(self.root, rel_dir)
        out = df.withColumn(KHASH_COL, khash_expr(base.key_cols))
        out = align_to_schema(out, schema).select(*[f.name for f in schema.fields])
        # ONE file, khash-sorted: point lookups prune deltas by the same
        # footer range machinery as base files; a 200-event batch is a
        # single ~10 KB parquet object however many buckets it spans.
        out.coalesce(1).sortWithinPartitions(KHASH_COL).write.parquet(out_dir, mode="errorifexists")
        sizes = {}
        for dirpath, _, fns in os.walk(out_dir):
            for fn in fns:
                if fn.endswith(".parquet"):
                    full = os.path.join(dirpath, fn)
                    sizes[os.path.relpath(full, self.root)] = os.path.getsize(full)
        return _StagedDelta(
            rel_dir=rel_dir,
            schema=schema,
            planned_on=base.schema,
            sizes=sizes,
            stats=_harvest_file_stats(self.root, list(sizes), schema),
        )

    def _link_delta(
        self, base: Snapshot, staged: "_StagedDelta", properties_fn, key_info
    ) -> Snapshot:
        """The link step of append_delta: one manifest on top of ``base``
        listing the staged file as a pending delta."""
        rels = sorted(staged.sizes)
        touched = sorted(key_info) if key_info is not None else None
        khashes = None
        if key_info and all(i.khashes is not None for i in key_info.values()):
            khashes = sorted({h for i in key_info.values() for h in i.khashes})
            if len(khashes) > KEY_PRUNE_CAP:
                khashes = None
        props = dict(base.properties)
        if properties_fn is not None:
            props.update(properties_fn(dict(base.properties)) or {})
        snap = Snapshot(
            version=base.version + 1,
            parent=base.version,
            key_cols=base.key_cols,
            n_buckets=base.n_buckets,
            schema=staged.schema,
            buckets=dict(base.buckets),
            properties=props,
            stats={"rows": None, "committed_at": time.time()},
            file_stats={**(base.file_stats or {}), **staged.stats},
            file_sizes={**(base.file_sizes or {}), **staged.sizes},
            deltas=list(base.deltas or []) + rels,
            delta_buckets={
                **(base.delta_buckets or {}),
                **({r: touched for r in rels} if touched is not None else {}),
            },
            delta_khashes={
                **(base.delta_khashes or {}),
                **({r: khashes for r in rels} if khashes is not None else {}),
            },
        )
        self._write_manifest(snap)
        self._swap_version(snap.version, expected_parent=base.version)
        return snap

    def drop_deltas(self, delta_files: list[str], expected_version: int | None = None) -> Snapshot:
        """Metadata-only commit removing folded delta files from the
        listing (compact_deltas runs this AFTER its fold commit succeeds;
        a crash in between leaves the deltas listed, which is correct —
        folded rows tie with their base copies and base wins ties — just
        unfolded-looking until the next compaction)."""
        base = self.snapshot(expected_version)
        drop = set(delta_files)
        keep = [d for d in (base.deltas or []) if d not in drop]
        snap = Snapshot(
            version=base.version + 1,
            parent=base.version,
            key_cols=base.key_cols,
            n_buckets=base.n_buckets,
            schema=base.schema,
            buckets=dict(base.buckets),
            properties=dict(base.properties),
            stats={"rows": None, "committed_at": time.time()},
            file_stats={p: s for p, s in (base.file_stats or {}).items() if p not in drop},
            file_sizes={p: s for p, s in (base.file_sizes or {}).items() if p not in drop},
            deltas=keep,
            delta_buckets={r: b for r, b in (base.delta_buckets or {}).items() if r not in drop},
            delta_khashes={r: h for r, h in (base.delta_khashes or {}).items() if r not in drop},
        )
        self._write_manifest(snap)
        self._swap_version(snap.version, expected_parent=base.version)
        return snap

    def row_count(self) -> int:
        return self.read().count()

    # --------------------------------------------------------------- write
    def write_buckets(
        self,
        df: DataFrame,
        replaced_buckets: list[int],
        new_schema: T.StructType | None = None,
        properties_update: dict[str, Any] | None = None,
        expected_version: int | None = None,
        properties_fn=None,
        collect_stats: bool = True,
        carry_files: dict[int, list[str]] | None = None,
        n_write_groups: int = 1,
        new_n_buckets: int | None = None,
    ) -> Snapshot:
        """Commit a new snapshot replacing ``replaced_buckets`` with ``df``.

        ``df`` must already carry ``_bucket`` and contain only rows whose
        bucket is in ``replaced_buckets``.

        ``carry_files``: per replaced bucket, EXISTING files to carry into
        the new snapshot alongside the freshly written ones — the
        file-granular copy-on-write handle: a MERGE rewrites only the
        files whose key-hash range overlaps its batch and carries the rest
        forward untouched (their manifest stats carry too). Without it,
        replacement is whole-bucket (the pre-round-4 behavior). Callers
        guarantee no key in ``df`` lives in a carried file — merge.py's
        pruning is conservative, so any file that COULD hold a batch key
        is rewritten, never carried.

        Every write (re)computes ``_khash`` from the key columns — never
        trusted from the input — and locally sorts each write partition by
        (bucket, _khash) so each data file covers a tight, harvestable
        key-hash range (a narrow-dependency sort, no shuffle; the
        clustering is what makes carry/rewrite pruning selective).

        ``n_write_groups`` > 1 splits each bucket's output into that many
        key-hash RANGE files (group = floor(_khash / ceil(2^32/k)),
        directory-encoded so two groups sharing a shuffle task still land
        in separate files with DISJOINT manifest ranges). Callers align
        their repartition to the same expression so each group is one
        task's worth of rows.

        ``new_n_buckets``: bucket-count evolution (maintenance.rebucket).
        Requires a WHOLE-TABLE rewrite in this commit: every existing
        bucket replaced, no carried files (a carried file's rows would
        hash to different buckets under the new count). ``df``'s
        ``_bucket`` must already be keyed by the new count; the committed
        manifest records it, and every later read/merge/lookup derives
        bucket ids from the manifest, so the switch is atomic with the
        data swap.
        """
        base = self.snapshot(expected_version)
        if new_n_buckets is not None and new_n_buckets != base.n_buckets:
            if not set(base.buckets) <= set(replaced_buckets):
                raise ValueError("new_n_buckets requires replacing every existing bucket")
            if carry_files:
                raise ValueError("new_n_buckets cannot carry files (stale bucket ids)")
        schema = new_schema or base.schema
        if not any(f.name == KHASH_COL for f in schema.fields):
            # auto-migrate pre-khash tables on their next commit
            schema = T.StructType([*schema.fields, T.StructField(KHASH_COL, T.LongType(), True)])
        commit_id = uuid.uuid4().hex
        rel_dir = os.path.join("data", commit_id)
        out_dir = os.path.join(self.root, rel_dir)

        ordered = [f.name for f in schema.fields]
        out = df.withColumn(KHASH_COL, khash_expr(base.key_cols))
        out = align_to_schema(out, schema).select(BUCKET_COL, *ordered)
        part_cols = [BUCKET_COL]
        if n_write_groups > 1:
            span = -(-(1 << 32) // n_write_groups)
            out = out.withColumn("_wg", F.floor(F.col(KHASH_COL) / F.lit(span)).cast("int"))
            part_cols.append("_wg")
        out = out.sortWithinPartitions(BUCKET_COL, KHASH_COL)
        out.write.partitionBy(*part_cols).parquet(out_dir, mode="errorifexists")

        new_files: dict[int, list[str]] = {}
        new_sizes: dict[str, int] = {}
        if os.path.exists(out_dir):
            for entry in os.listdir(out_dir):
                if not entry.startswith(f"{BUCKET_COL}="):
                    continue
                b = int(entry.split("=", 1)[1])
                bdir = os.path.join(out_dir, entry)
                rels = []
                for dirpath, _, fns in os.walk(bdir):
                    for fn in fns:
                        if fn.endswith(".parquet"):
                            full = os.path.join(dirpath, fn)
                            rel = os.path.relpath(full, self.root)
                            rels.append(rel)
                            try:
                                new_sizes[rel] = os.path.getsize(full)
                            except OSError:
                                pass
                new_files[b] = sorted(rels)

        buckets = dict(base.buckets)
        for b in replaced_buckets:
            buckets.pop(b, None)
        for b, kept in (carry_files or {}).items():
            if kept:
                buckets[b] = list(kept)
        for b, fl in new_files.items():
            buckets[b] = buckets.get(b, []) + fl

        # Per-file column stats: harvest parquet footer min/max for the
        # files this commit wrote (driver-local metadata reads, no Spark
        # job), carry forward surviving files' stats, drop replaced ones.
        live = {p for fl in buckets.values() for p in fl} | set(base.deltas or [])
        file_stats = {p: st for p, st in (base.file_stats or {}).items() if p in live}
        file_sizes = {p: sz for p, sz in (base.file_sizes or {}).items() if p in live}
        file_sizes.update(new_sizes)
        if collect_stats:
            written = [p for fl in new_files.values() for p in fl]
            file_stats.update(_harvest_file_stats(self.root, written, schema))

        props = dict(base.properties)
        props.update(properties_update or {})
        if properties_fn is not None:
            # evaluated AFTER the data write: lets callers derive manifest
            # properties (e.g. per-partition offsets) from Observation
            # metrics collected during the write action itself, so lineage
            # costs zero extra jobs. The callback receives the FRESH base
            # properties (not whatever snapshot the caller captured before
            # a possible conflict retry) so merges like max-per-partition
            # offsets never regress another writer's committed values.
            props.update(properties_fn(dict(base.properties)) or {})
        snap = Snapshot(
            version=base.version + 1,
            parent=base.version,
            key_cols=base.key_cols,
            n_buckets=new_n_buckets if new_n_buckets is not None else base.n_buckets,
            schema=schema,
            buckets=buckets,
            properties=props,
            stats={"rows": None, "committed_at": time.time()},
            file_stats=file_stats,
            file_sizes=file_sizes,
            deltas=list(base.deltas or []),
            delta_buckets=dict(base.delta_buckets or {}),
            delta_khashes=dict(base.delta_khashes or {}),
        )
        self._write_manifest(snap)
        self._swap_version(snap.version, expected_parent=base.version)
        return snap

    def with_bucket(self, df: DataFrame) -> DataFrame:
        snap = self.snapshot()
        return df.withColumn(BUCKET_COL, bucket_expr(snap.key_cols, snap.n_buckets))

    def read_keys(
        self,
        keys: list[tuple],
        include_deleted: bool = False,
        version: int | None = None,
    ) -> DataFrame:
        """Point lookup: the rows for an explicit list of keys — the lake
        analog of the reference sink's document GET (ES `_doc/<id>`; the
        routing hash is the same CRC-32/IEEE the reference shards by,
        ``pkg/realtime/helpers.go:104-123``).

        The key hashes are computed DRIVER-SIDE with zlib.crc32 over the
        same unit-separated string Spark's ``crc32`` hashes (golden-vector
        pinned in tests), so the scan set is resolved from the manifest
        alone: the base files of the keys' buckets whose stored ``_khash``
        range can contain one of the keys, plus the pending deltas whose
        recorded hash set (or, without one, whose range) can — with
        khash-clustered files a lookup touches O(len(keys)) files no
        matter how large the table is. Values are stringified exactly as
        Spark casts them (exact for string and integer key columns — the
        supported key types).

        Base files and deltas are read in ONE scan and cut by ONE
        predicate: the wanted ``_khash`` values (pushed to the parquet
        reader, so row groups and pages of large khash-sorted files are
        skipped) and the joined key (drops crc32 collisions). When a
        pending delta may hold a wanted key, each row is tagged base or
        delta by its file (``_metadata.file_path`` against the delta
        list) and the rows are resolved in one guard window
        (latest_per_key: the order of a logical read, base winning full
        ties) over a single partition, so the lookup runs as one Spark
        job of one stage and one task, with no shuffle. That task reads
        every pruned file, which suits a handful of keys; a bulk key set
        belongs to ``read()`` plus a filter or join.

        Key values reach the plan only through ``sql_str``, never as raw
        SQL text.
        """
        import zlib

        snap = self.snapshot(version)
        joined_keys: dict[str, None] = {}
        by_bucket: dict[int, set[int]] = {}
        for kt in keys:
            vals = kt if isinstance(kt, (tuple, list)) else (kt,)
            if len(vals) != len(snap.key_cols):
                raise ValueError(f"key {kt!r} arity != key_cols {snap.key_cols}")
            joined = KEY_SEP.join("" if v is None else str(v) for v in vals)
            kh = zlib.crc32(joined.encode("utf-8"))
            joined_keys[joined] = None
            by_bucket.setdefault(kh % snap.n_buckets, set()).add(kh)
        key_info = {
            b: BatchKeyInfo(khashes=sorted(hs), lo=min(hs), hi=max(hs))
            for b, hs in sorted(by_bucket.items())
        }

        files = [
            rel
            for b, info in key_info.items()
            for rel in snap.buckets.get(b, [])
            if file_may_hold(snap, rel, info)
        ]
        # Pending deltas can hold a newer version of a looked-up key (or
        # its tombstone): they join the scan, and the guard picks the winner.
        dfiles = deltas_for(snap, key_info)
        if not files and not dfiles:
            return self.read(files=[], version=snap.version)
        df = self.read(files=files + dfiles, include_deleted=True, version=snap.version,
                       resolve_deltas=False)
        kh = f"`{KHASH_COL}`"
        hashes = ", ".join(str(h) for hs in by_bucket.values() for h in sorted(hs))
        joined_sql = "concat_ws({}, {})".format(
            sql_str(KEY_SEP),
            ", ".join(f"coalesce(CAST(`{c}` AS string), '')" for c in snap.key_cols),
        )
        # pre-khash files carry a NULL _khash: kept, the key filter decides
        df = df.filter(
            f"({kh} IS NULL OR {kh} IN ({hashes})) AND "
            f"{joined_sql} IN ({', '.join(sql_str(k) for k in joined_keys)})"
        )
        if dfiles:
            # manifest paths are relative and URI-safe; the scan reports
            # each row's file as an absolute URI ending in that path
            in_delta = " OR ".join(
                f"endswith(_metadata.file_path, {sql_str('/' + rel)})" for rel in dfiles
            )
            # one partition already satisfies the window's per-key
            # clustering: no Exchange, no AQE map stage
            df = latest_per_key(
                df.selectExpr("*", f"NOT ({in_delta}) AS _is_base").coalesce(1), snap.key_cols
            )
        if not include_deleted:
            df = df.filter(f"NOT coalesce(`{DELETED_COL}`, false)")
        return df


def sql_str(value: str) -> str:
    """``value`` as a Spark SQL string expression that holds exactly it,
    whatever characters it has: the UTF-8 bytes travel as a hex binary
    literal, so no quote, backslash or newline reaches the parser as SQL
    under any string-escaping setting, and the optimizer folds the
    expression back into one string constant."""
    return f"decode(X'{value.encode('utf-8').hex()}', 'UTF-8')"


def latest_per_key(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Rank 1 per key of base (``_is_base`` true) and delta (false) rows
    by the (offset, seq) guard — the read side of the
    write-side window in merge.py, same ordering, base winning full ties
    (a folded-then-lingering delta row is byte-identical to its base copy,
    so the tie-break only picks which identical row survives). The one
    definition of the read-side guard order, shared by ``read_keys`` and
    ``resolve_merge_on_read``."""
    keys = ", ".join(f"`{c}`" for c in key_cols)
    rank = (
        f"row_number() OVER (PARTITION BY {keys} ORDER BY last_offset DESC NULLS LAST, "
        "coalesce(last_seq, 0) DESC, _is_base DESC)"
    )
    return df.selectExpr("*", f"{rank} AS _rn").filter("_rn = 1").drop("_rn", "_is_base")


def resolve_merge_on_read(base: DataFrame, delta: DataFrame, key_cols: list[str]) -> DataFrame:
    """Fold pending delta rows into a base scan by the (offset, seq)
    guard (latest_per_key). Serves ``read()``'s full and bucket-pruned
    scans; point lookups scan base and delta files together and resolve
    their few rows in one window of their own (read_keys).

    Scale shape: base rows whose key has NO delta pass through untouched
    via a broadcast LEFT ANTI against the (small, fold-policy-bounded)
    delta key set; only the touched slice pays the window. At 100 TB a
    single pending delta row costs one broadcast anti-join over the scan,
    not a table-wide shuffle.
    """
    dkeys = delta.select(*key_cols).distinct()
    untouched = base.join(F.broadcast(dkeys), on=key_cols, how="left_anti")
    touched = base.join(F.broadcast(dkeys), on=key_cols, how="left_semi")
    combined = touched.withColumn("_is_base", F.lit(True)).unionByName(
        delta.withColumn("_is_base", F.lit(False))
    )
    return untouched.unionByName(latest_per_key(combined, key_cols))


_STATS_TYPES = (T.LongType, T.IntegerType, T.ShortType, T.ByteType,
                T.DoubleType, T.FloatType, T.StringType, T.BooleanType)


def _harvest_file_stats(root: str, rel_paths: list[str], schema: T.StructType) -> dict:
    """Parquet footer min/max per primitive column for freshly written
    files — driver-local metadata reads (~ms/file), no Spark job. Only
    JSON-clean types are kept (int/float/str/bool); parquet's truncated
    string stats remain valid BOUNDS (writers round a truncated max up),
    so pruning against them is always safe."""
    import pyarrow.parquet as pq

    prim = {f.name for f in schema.fields if isinstance(f.dataType, _STATS_TYPES)}
    out: dict[str, dict[str, list]] = {}

    # Footer reads are independent driver-local IO (~ms each) — a big
    # commit (compaction/fold: hundreds of files) pays them serially
    # otherwise. Threads, not processes: the GIL releases around the
    # pyarrow IO calls.
    def _meta(rel: str):
        try:
            return rel, pq.ParquetFile(os.path.join(root, rel)).metadata
        except Exception:  # noqa: BLE001 — stats are best-effort
            return rel, None

    if len(rel_paths) > 8:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=16) as pool:
            metas = list(pool.map(_meta, rel_paths))
    else:
        metas = [_meta(rel) for rel in rel_paths]
    for rel, md in metas:
        if md is None:
            continue
        colstats: dict[str, list] = {}
        # A column whose stats are missing in ANY row group must not get
        # file-level bounds from the row groups that do have them: the
        # partial range under-covers, and file-granular COW uses these
        # bounds for CORRECTNESS (a file judged key-free is carried, so an
        # under-covering range could leave a key live in two files). No
        # stats = unprunable = conservatively rewritten.
        partial: set[str] = set()
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                name = col.path_in_schema
                if name not in prim:
                    continue
                st = col.statistics
                if st is None or not st.has_min_max:
                    partial.add(name)
                    continue
                mn, mx = st.min, st.max
                if isinstance(mn, bytes) or isinstance(mx, bytes):
                    try:
                        mn, mx = mn.decode(), mx.decode()
                    except Exception:  # noqa: BLE001
                        partial.add(name)
                        continue
                nulls = int(st.null_count or 0)
                prev = colstats.get(name)
                if prev is None:
                    colstats[name] = [mn, mx, nulls]
                else:
                    colstats[name] = [min(prev[0], mn), max(prev[1], mx), prev[2] + nulls]
        for name in partial:
            colstats.pop(name, None)
        if colstats:
            out[rel] = colstats
    return out


def align_to_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project ``df`` onto ``schema``: missing columns null, types cast.

    This is the schema-evolution read path: old files lack newly added
    columns and get null-padded; new files read under an old plan drop
    extras. Extra columns present in ``df`` but not in ``schema`` are kept
    only if they are engine-internal (``_bucket``).
    """
    # Built as SQL expression STRINGS, one selectExpr call total: the
    # Column-object form cost ~3 py4j round trips per column and this
    # projection runs on every micro-batch commit (part of the measured
    # per-commit driver floor — apply_batch makes ~2.3k py4j calls/batch,
    # each ~0.5 ms of socket latency).
    have = {f.name: f for f in df.schema.fields}
    exprs = []
    for f in schema.fields:
        t = f.dataType.simpleString()
        if f.name in have:
            if have[f.name].dataType != f.dataType:
                exprs.append(f"CAST(`{f.name}` AS {t}) AS `{f.name}`")
            else:
                exprs.append(f"`{f.name}`")
        else:
            exprs.append(f"CAST(NULL AS {t}) AS `{f.name}`")
    if BUCKET_COL in have:
        exprs.append(f"`{BUCKET_COL}`")
    return df.selectExpr(*exprs)


# Safe type-widening lattices (ALTER TABLE MODIFY int -> bigint analog):
# widening within a family is lossless, and this Spark's vectorized
# parquet reader promotes old files' narrower physical types at scan time
# (int32 read under a LongType schema, float under double — probed on
# pyspark 4.1.2), so a widened manifest schema stays read-compatible with
# every pre-widening file without any rewrite.
_INT_WIDTH = {T.ByteType: 0, T.ShortType: 1, T.IntegerType: 2, T.LongType: 3}
_FLOAT_WIDTH = {T.FloatType: 0, T.DoubleType: 1}


def _wider(base: T.DataType, incoming: T.DataType) -> T.DataType | None:
    """The wider of two same-family numeric types, or None when the pair
    is not a safe widening (caller then keeps the base type)."""
    for order in (_INT_WIDTH, _FLOAT_WIDTH):
        if type(base) in order and type(incoming) in order:
            return base if order[type(base)] >= order[type(incoming)] else incoming
    return None


def merge_schemas(base: T.StructType, incoming: T.StructType) -> T.StructType:
    """Column-union schema merge (ALTER TABLE ADD COLUMN analog) with
    numeric type WIDENING (ALTER MODIFY int -> bigint analog).

    New columns append after existing ones. Existing columns keep their
    type unless the incoming type is a strictly wider member of the same
    numeric family (byte<short<int<long, float<double) — then the column
    widens; it never narrows (a narrower incoming batch is cast up on
    write by ``align_to_schema``). The reference's answer to evolution is
    a lazily populated, never-invalidated column-name cache
    (``pkg/realtime/schema_cache.go:21-52``) — this is the strictly
    stronger lake-side version.
    """
    have = {f.name: f.dataType for f in incoming.fields}
    fields = []
    for f in base.fields:
        inc = have.get(f.name)
        w = _wider(f.dataType, inc) if inc is not None else None
        fields.append(
            T.StructField(f.name, w, f.nullable) if w is not None and w != f.dataType else f
        )
    names = {f.name for f in base.fields}
    for f in incoming.fields:
        if f.name not in names and f.name != BUCKET_COL:
            fields.append(T.StructField(f.name, f.dataType, True))
    return T.StructType(fields)
