"""Lake maintenance: compaction, tombstone GC, snapshot expiry.

The Iceberg-maintenance analog (rewrite_data_files / expire_snapshots /
remove_orphan_files). The reference has no equivalent — ES handles segment
merging — but a 10^10-event lake accumulates (a) one file set per commit
per bucket (small files), (b) tombstones that guard delete-then-reinsert
ordering (SURVEY §7 hard part 1) and only become garbage once every
stream partition has advanced past their offset.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from binlog_es_go_spark.lake.table import DELETED_COL, KHASH_COL, LakeTable, retry_on_conflict


def small_file_buckets(table: LakeTable, max_files_per_bucket: int = 16) -> list[int]:
    """Buckets whose manifest file count exceeds the threshold — the
    compaction work list. File-granular COW (merge.py) ACCUMULATES files:
    every incremental commit carries untouched files forward and adds
    rewritten/new ones, so file counts grow with commit rate until a
    compaction folds them. This is the manifest-only (no Spark job)
    scheduler input for ``compact(buckets=...)``: maintenance stays
    O(hot buckets), never O(table)."""
    snap = table.snapshot()
    return sorted(b for b, fl in snap.buckets.items() if len(fl) > max_files_per_bucket)


def compact(
    table: LakeTable,
    target_files_per_bucket: int = 1,
    drop_tombstones_below: int | None = None,
    buckets: list[int] | None = None,
) -> int:
    """Rewrite buckets into ``target_files_per_bucket`` range files each.

    ``buckets=None`` rewrites the whole table; a list compacts ONLY those
    buckets (pair with :func:`small_file_buckets` to fold exactly the
    buckets that file-granular COW has fragmented — the Iceberg
    rewrite_data_files-with-filter analog). Untouched buckets keep their
    files and stats.

    ``drop_tombstones_below``: offset watermark below which tombstones are
    garbage — safe ONLY when every stream partition's applied offset has
    passed it (a replayed stale insert for that key can no longer arrive,
    because the coarse offset filter + checkpoint drop it first). Callers
    should pass ``min(applied_offsets().values())``.

    When tombstones are dropped, the compacted version is recorded in
    manifest properties (``tombstone_gc_version``/``tombstone_gc_offset``)
    and ``snapshot_changes`` REFUSES diffs whose ``from_version`` predates
    it — an incremental consumer behind the GC can no longer silently miss
    deletes (lake/changes.py enforces the contract this docstring used to
    only state). A partial compaction records the same table-wide
    watermark (conservative: the contract refuses a few more diffs than
    strictly necessary rather than ever missing a delete).
    """
    snap = table.snapshot()
    if buckets is not None and not buckets:
        return snap.version
    df = table.read(include_deleted=True, buckets=buckets, version=snap.version)
    obs = None
    if drop_tombstones_below is not None:
        from pyspark.sql import Observation

        garbage = F.coalesce(F.col(DELETED_COL), F.lit(False)) & (
            F.col("last_offset") < drop_tombstones_below
        )
        # count the dropped tombstones inside the compaction scan itself
        # (zero extra jobs): a compaction that drops NONE must not poison
        # future snapshot diffs with a GC watermark
        obs = Observation()
        df = df.observe(obs, F.sum(garbage.cast("long")).alias("dropped"))
        df = df.filter(~garbage)
    df = table.with_bucket(df)
    n_rewrite = snap.n_buckets if buckets is None else len(buckets)
    n_parts = max(n_rewrite * target_files_per_bucket, 1)
    # Split each bucket by key-hash RANGE (not hash-of-hash): with the
    # khash-local sort in write_buckets, each compacted file covers a
    # tight disjoint _khash range, so post-compaction merges can prune at
    # file granularity (merge.py file-granular COW). A plain
    # repartition(_bucket) would put the whole bucket in one task and
    # make target_files_per_bucket>1 a no-op.
    from binlog_es_go_spark.lake.table import khash_expr

    k = max(1, target_files_per_bucket)
    span = -(-(1 << 32) // k)
    grp = F.floor(khash_expr(snap.key_cols) / F.lit(span)).cast("int")
    out = df.repartition(n_parts, F.col("_bucket"), grp)

    def props_after_write(base_props: dict) -> dict:
        upd: dict = {"last_compaction_version": snap.version}
        if obs is not None and int(obs.get.get("dropped") or 0) > 0:
            from binlog_es_go_spark.lake.changes import GC_OFFSET_PROP, GC_VERSION_PROP

            prev_off = int(base_props.get(GC_OFFSET_PROP, -1))
            upd[GC_VERSION_PROP] = snap.version + 1
            upd[GC_OFFSET_PROP] = max(prev_off, int(drop_tombstones_below))
        return upd

    new_snap = table.write_buckets(
        out,
        replaced_buckets=list(range(snap.n_buckets)) if buckets is None else list(buckets),
        expected_version=snap.version,
        properties_fn=props_after_write,
        n_write_groups=k,
    )
    # A FULL compaction read every bucket with delta resolution on, so all
    # pending delta rows are folded into the rewritten base — reclaim the
    # delta files captured at fold start (later concurrent delta commits
    # stay listed). Partial compactions leave deltas: unfolded buckets
    # still need their rows, and folded rows tie away harmlessly.
    if buckets is None and (snap.deltas or []):
        new_snap = retry_on_conflict(lambda: table.drop_deltas(snap.deltas))
    return new_snap.version


def rebucket(
    table: LakeTable,
    new_n_buckets: int,
    target_files_per_bucket: int = 1,
) -> int:
    """Bucket-count evolution: rewrite the whole table under a new bucket
    count in ONE atomic commit — the Iceberg
    ``REPLACE PARTITION FIELD bucket(N, key) -> bucket(M, key)`` +
    rewrite_data_files analog. A 100 TB table that started at 64 buckets
    needs this the day per-bucket file sets stop fitting maintenance
    windows; without it the only escape is a full copy to a new table and
    a consumer cutover.

    O(table) by construction (every row's bucket id changes), but: one
    wide exchange keyed by (new bucket, khash range group), khash-local
    sort preserved, so the result has exactly the layout/stats invariants
    of a fresh compaction at the new count — file-granular COW pruning
    keeps working across the switch. Pending merge-on-read deltas are
    folded by the same scan (the rewrite read resolves them) and
    reclaimed. Readers of OLD versions keep the old count (each manifest
    records its own ``n_buckets``); a concurrent writer's commit makes
    this rebucket raise ``CommitConflict`` rather than strand its rows
    under a stale bucket map — retry when the table quiesces.
    """
    from binlog_es_go_spark.lake.table import BUCKET_COL, bucket_expr, khash_expr

    snap = table.snapshot()
    if new_n_buckets == snap.n_buckets:
        return snap.version
    if new_n_buckets < 1:
        raise ValueError("new_n_buckets must be >= 1")
    df = table.read(include_deleted=True, version=snap.version)  # tombstones kept, deltas folded
    df = df.withColumn(BUCKET_COL, bucket_expr(snap.key_cols, new_n_buckets))
    k = max(1, target_files_per_bucket)
    span = -(-(1 << 32) // k)
    grp = F.floor(khash_expr(snap.key_cols) / F.lit(span)).cast("int")
    out = df.repartition(max(new_n_buckets * k, 1), F.col(BUCKET_COL), grp)
    new_snap = table.write_buckets(
        out,
        replaced_buckets=sorted(snap.buckets),
        expected_version=snap.version,
        properties_fn=lambda _p: {"last_rebucket_from": snap.n_buckets},
        n_write_groups=k,
        new_n_buckets=new_n_buckets,
    )
    if snap.deltas:
        new_snap = retry_on_conflict(lambda: table.drop_deltas(snap.deltas))
    return new_snap.version


def compact_deltas(table: LakeTable, salt_partitions: int | None = None) -> int | None:
    """Fold pending merge-on-read deltas into base files and reclaim them —
    the maintenance half of the delta-apply trade (see
    ``merge.merge_into_delta``): the tail writes O(batch) deltas, this
    periodically pays the rewrite ONCE for the accumulated debt instead of
    per batch.

    The fold is the standard guarded MERGE with the delta rows replayed as
    a changelog (their persisted (last_offset, last_seq, last_op) become
    the batch's (offset, seq, op)), so it is idempotent and correct under
    replay/crash: a crash after the fold commit but before the delta-drop
    commit leaves folded rows tying with their base copies — base wins
    ties — until the next compaction reclaims them. Returns the new
    version, or None when no deltas were pending.
    """
    from binlog_es_go_spark.lake.merge import (
        ENGINE_COLS,
        batch_key_info,
        merge_into,
        scoped_merge_conf,
    )

    snap = table.snapshot()
    rels = list(snap.deltas or [])
    if not rels:
        return None
    delta = table.delta_rows(version=snap.version, delta_files=rels)
    keep = [
        f.name for f in snap.schema.fields
        if f.name not in ENGINE_COLS and f.name != KHASH_COL
    ]
    src = delta.selectExpr(
        *[f"`{c}`" for c in keep],
        "last_offset AS offset",
        "CAST(coalesce(last_seq, 0) AS int) AS seq_in_tx",
        f"CASE WHEN coalesce(`{DELETED_COL}`, false) THEN 'delete' "
        "ELSE coalesce(last_op, 'update') END AS op",
        "updated_at AS ts",
    )
    # the fold's key scan is planned like the merge it feeds (AQE off)
    with scoped_merge_conf(table.spark):
        kinfo = batch_key_info(src, snap.key_cols, snap.n_buckets).buckets
    merge_into(table, src, salt_partitions=salt_partitions, key_info=kinfo)
    return retry_on_conflict(lambda: table.drop_deltas(rels)).version


def expire_snapshots(table: LakeTable, keep_last: int = 2, min_age_sec: float = 600.0) -> list[str]:
    """Delete data files only referenced by expired snapshots.

    Snapshots older than the last ``keep_last`` lose time-travel; files
    still referenced by a retained snapshot are kept. Returns removed
    paths. Manifest JSONs are kept (tiny, useful for lineage forensics).

    ``min_age_sec``: commit dirs younger than this are NEVER deleted, even
    if no retained manifest references them — a concurrent writer may have
    finished its data write but not yet linked its manifest, and deleting
    its files would let it publish a manifest pointing at nothing
    (Iceberg's remove_orphan_files ``older_than`` rule). Set 0 only when
    no other writer can be mid-commit.
    """
    import time as _time

    current = table.current_version()
    keep_versions = [v for v in range(max(0, current - keep_last + 1), current + 1)]
    referenced: set[str] = set()
    for v in keep_versions:
        try:
            snap = table.snapshot(v)
        except FileNotFoundError:
            continue
        for files in snap.buckets.values():
            referenced.update(files)
        referenced.update(snap.deltas or [])

    removed = []
    now = _time.time()
    data_root = os.path.join(table.root, "data")
    for commit_dir in os.listdir(data_root):
        full = os.path.join(data_root, commit_dir)
        try:
            if now - os.path.getmtime(full) < min_age_sec:
                continue  # possibly an in-progress commit — leave it
        except OSError:
            continue
        rels = []
        for dirpath, _, files in os.walk(full):
            for fn in files:
                if fn.endswith(".parquet"):
                    rels.append(os.path.relpath(os.path.join(dirpath, fn), table.root))
        if rels and not any(r in referenced for r in rels):
            shutil.rmtree(full, ignore_errors=True)
            removed.extend(rels)
    return removed


def table_stats(table: LakeTable) -> dict:
    """File/row/tombstone accounting for ops dashboards."""
    snap = table.snapshot()
    n_files = sum(len(v) for v in snap.buckets.values())
    df = table.read(include_deleted=True)
    agg = df.agg(
        F.count("*").alias("rows"),
        F.sum(F.coalesce(F.col(DELETED_COL), F.lit(False)).cast("int")).alias("tombstones"),
    ).first()
    return {
        "version": snap.version,
        "buckets": len(snap.buckets),
        "files": n_files,
        "rows": int(agg["rows"] or 0),
        "tombstones": int(agg["tombstones"] or 0),
    }
