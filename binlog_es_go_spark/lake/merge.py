"""Copy-on-write MERGE with a monotonic-offset guard (exactly-once LWW).

Semantics (the DataFrame re-expression of the reference's sink pair
``UpsertBulk``/``DeleteBulk`` + ES doc versioning,
``pkg/es/writer.go:57-81,156-193``, and of deleteOnDelete routing,
``pkg/realtime/loop.go:317-321``):

    MERGE INTO target t USING source s ON <key_cols>
      WHEN MATCHED AND (s.offset, s.seq) > (t.last_offset, t.last_seq)
                   AND s.op = 'delete'                              THEN DELETE
      WHEN MATCHED AND (s.offset, s.seq) > (t.last_offset, t.last_seq)
                                                                    THEN UPDATE *
      WHEN NOT MATCHED AND s.op <> 'delete'                         THEN INSERT *

with two strengthenings over the reference:

* the strict ``(s.offset, s.seq) > (t.last_offset, t.last_seq)`` guard
  (lexicographic; seq persisted so split transactions order across
  batches) makes re-applied batches
  (at-least-once delivery, foreachBatch re-run after crash) no-ops —
  exactly-once state without a transactional sink;
* DELETE writes a tombstone (``_deleted=true``, ``last_offset`` kept)
  instead of physically removing the row, so a *stale* insert replayed
  after a delete cannot resurrect the key (SURVEY §7 hard part 1).

Physical plan, deliberately:

    1. affected buckets and their key hashes come from the caller: a
       BatchKeyInfo per bucket, built by batch_key_info in the same
       grouped scan that yields the batch's offsets, or observed on a
       declined delta write (observe_batch_keys; None = every bucket,
       unpruned); the merge runs no Spark job before its write
    2. target read pruned to those buckets' files that may hold a batch
       key (plan_file_cow: file skipping — O(batch), not O(table))
    3. union(target-subset, source) → window by key ordered by (offset
       desc, seq desc, is_target desc) → rank 1 — within-batch LWW
       dedup, the cross-batch guard, and the target tie-break in ONE
       window; Spark 4's WindowGroupLimit runs a map-side partial top-1
       so at most one candidate row per key per input partition crosses
       the wide shuffle
    4. winners → repartition (bucket, key-salt): a second, winners-only
       exchange that makes the write BUCKET-ALIGNED (one file per bucket
       per write group; see the layout comment in _merge_once for the
       measured 3x cost of every one-exchange alternative)
    5. rewrite only affected buckets, atomic manifest commit

Write skew: the salt is crc32(key) % n_out, modular-aligned with the
bucket id, so raising salt_partitions above n_buckets splits each hot
bucket into exactly n_out/n_buckets write groups without inflating the
file count for cold ones. Explicit pre-aggregation salting remains in
operators/salting.py.

At 100 TB the cost of a micro-batch is proportional to the number of
buckets its keys hash into, never to table size; raising ``n_buckets``
trades smaller rewrites against more files (Iceberg's bucket(N, key)
tuning knob, same math).
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from binlog_es_go_spark.lake.table import (
    BUCKET_COL,
    DELETED_COL,
    KEY_PRUNE_CAP,
    KHASH_COL,
    BatchKeyInfo,
    LakeTable,
    align_to_schema,
    bucket_expr,
    deltas_for,
    file_may_hold,
    khash_expr,
    merge_schemas,
    retry_on_conflict,
)

OFFSET_COL = "offset"
OP_COL = "op"
SEQ_COL = "seq_in_tx"
TS_COL = "ts"
ENGINE_COLS = ("last_offset", "last_seq", "last_op", DELETED_COL, "updated_at", KHASH_COL)

# Target bytes per write task when the exchange width adapts to a small
# pruned batch (see _merge_once): enough to keep tasks meaningful, small
# enough that a single rewritten file never serializes a whole commit.
WRITE_TARGET_BYTES = 64 << 20

# Rewrites at or under this estimate are SURGICAL: one write group per
# bucket (see _merge_once) — range-splitting kilobyte commits into
# k_groups files per bucket paid per-file writer overhead for layout
# granularity a later compaction discards anyway.
SMALL_COMMIT_BYTES = 8 << 20


@contextmanager
def scoped_merge_conf(spark):
    """Plan the enclosed merge actions with AQE off.

    Round-6 floor attack, measured ~0.1-0.2 s/commit at sf0.1: the merge
    already sizes both of its exchanges itself (shuffle_partitions for the
    guard window, the adaptive (bucket, group) width for the write), AQE's
    skew-join splitting never applies (no joins in the merge plan), so all
    AQE buys here is per-stage materialization barriers + driver
    re-planning — pure serial floor per micro-batch at ANY table size.

    Single writer per session: the flag is session-global, set on entry
    and restored on exit, not scoped to this thread. While a merge runs,
    queries planned on other threads of the same SparkSession also plan
    with AQE off, and two overlapping merges on one session can restore
    the flag under each other, so the later one may plan partly with AQE
    on. Results stay correct either way (AQE changes plans, never
    answers); the measured floor holds only with one writer per session.
    Concurrent writers belong in separate sessions or processes.
    """
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    if prev == "false":
        yield
        return
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


@dataclass
class BatchKeys:
    """What one batch touches (see batch_key_info): the max offset per
    stream partition, and the BatchKeyInfo of every bucket it hits."""

    offsets: dict[str, int]
    buckets: dict[int, BatchKeyInfo]


def batch_key_info(
    flat: DataFrame, key_cols: list[str], n_buckets: int, batch: Column | None = None
):
    """The metadata every commit path needs before its MERGE, in ONE
    column-pruned grouped collect: per stream partition the max offset,
    and per bucket the batch's key hashes (file-granular COW pruning and
    the small-batch write shape). Metadata jobs are a serial cost per
    commit, so they are folded together: ``apply_batch`` runs this per
    large micro-batch (a provably small one observes the same metadata
    on its delta write instead, see observe_batch_keys),
    ``replay_changelog`` once for all its commits (``batch``: a column
    giving each row's commit index), ``compact_deltas`` for the fold's
    source.

    Grouped by (partition, bucket) — by partition only when the source has
    ``partition_id`` (the fold's does not; its offsets come back empty):
    at most n_partitions x n_buckets rows, each carrying <=
    KEY_PRUNE_CAP+1 hashes, so the driver transfer stays bounded
    regardless of batch size; a bucket whose merged set overflows the cap
    degrades to its [lo, hi] range (still conservative-correct for
    pruning).

    Returns a BatchKeys; with ``batch``, a dict commit index -> BatchKeys
    holding only the indexes that have rows."""
    has_pid = "partition_id" in flat.columns
    lead = ([batch.alias("_batch")] if batch is not None else []) + (
        ["partition_id"] if has_pid else []
    )
    rows = (
        flat.select(*lead, *(["offset"] if has_pid else []), khash_expr(key_cols).alias("_kh"))
        .withColumn("_b", F.pmod(F.col("_kh"), F.lit(n_buckets)).cast("int"))
        .groupBy(*lead, "_b")
        .agg(
            *([F.max("offset").alias("mx")] if has_pid else []),
            F.slice(F.sort_array(F.collect_set("_kh")), 1, KEY_PRUNE_CAP + 1).alias("khs"),
            F.min("_kh").alias("lo"),
            F.max("_kh").alias("hi"),
        )
        .collect()
    )
    offs: dict[int | None, dict[str, int]] = {}
    groups: dict[int | None, list] = {}
    for r in rows:
        i = int(r["_batch"]) if batch is not None else None
        offs_i = offs.setdefault(i, {})
        if has_pid:
            p = str(r["partition_id"])
            offs_i[p] = max(offs_i.get(p, -(1 << 62)), int(r["mx"]))
        groups.setdefault(i, []).append((int(r["_b"]), r["khs"], int(r["lo"]), int(r["hi"])))
    out = {i: BatchKeys(offsets=offs[i], buckets=bucket_key_info(g)) for i, g in groups.items()}
    if batch is not None:
        return out
    return out.get(None, BatchKeys(offsets={}, buckets={}))


def bucket_key_info(groups) -> dict[int, BatchKeyInfo]:
    """Per-bucket key info from ``(bucket, hashes, lo, hi)`` groups — the
    one KEY_PRUNE_CAP rule of batch_key_info and observed_batch_keys: a
    bucket keeps its exact sorted hash set while the union of its groups
    fits under the cap, else only the [lo, hi] range of all of them."""
    acc: dict[int, list] = {}  # bucket -> [set | None, lo, hi]
    for b, khs, lo, hi in groups:
        cur = acc.setdefault(b, [set(), lo, hi])
        cur[1] = min(cur[1], lo)
        cur[2] = max(cur[2], hi)
        if cur[0] is not None:
            cur[0].update(khs)
            if len(cur[0]) > KEY_PRUNE_CAP:
                cur[0] = None
    return {
        b: BatchKeyInfo(khashes=sorted(s) if s is not None else None, lo=lo, hi=hi)
        for b, (s, lo, hi) in sorted(acc.items())
    }


def observe_batch_keys(flat: DataFrame, key_cols: list[str]) -> tuple[DataFrame, Observation]:
    """batch_key_info's metadata as an Observation on whichever job
    consumes the returned frame — no job of its own. It collects every
    distinct key hash and every (partition, offset) pair of ``flat`` (all
    rows: deletes and re-delivered events count), so it is for provably
    small batches only; read it with observed_batch_keys after the job."""
    obs = Observation()
    aggs = [F.collect_set(khash_expr(key_cols)).alias("khs")]
    if "partition_id" in flat.columns:
        aggs.append(F.collect_set(F.struct("partition_id", "offset")).alias("offs"))
    return flat.observe(obs, *aggs), obs


def observed_batch_keys(obs: Observation, n_buckets: int) -> BatchKeys:
    """The BatchKeys of an observe_batch_keys Observation — equal to
    batch_key_info's on the same rows."""
    got = obs.get
    by_bucket: dict[int, list[int]] = {}
    for h in got.get("khs") or []:
        by_bucket.setdefault(int(h) % n_buckets, []).append(int(h))
    offsets: dict[str, int] = {}
    for pid, off in got.get("offs") or []:
        p = str(pid)
        offsets[p] = max(offsets.get(p, -(1 << 62)), int(off))
    return BatchKeys(
        offsets=offsets,
        buckets=bucket_key_info((b, hs, min(hs), max(hs)) for b, hs in by_bucket.items()),
    )


def plan_file_cow(
    snap, kinfo: dict[int, BatchKeyInfo] | None
) -> tuple[list[str], dict[int, list[str]], int]:
    """File-granular copy-on-write plan (manifest-only driver math, no
    Spark job): within each touched bucket, REWRITE only files whose
    stored _khash range (manifest file_stats, tight because writes are
    khash-sorted) can contain a batch key; CARRY the rest forward
    untouched. Files without stats — pre-khash data, failed harvest —
    conservatively rewrite. ``kinfo=None`` rewrites every file of every
    bucket (the bulk shape). At 100 TB this turns "one hot key costs a
    full-bucket rewrite" into "one hot key costs one file" (the lake analog
    of the reference's row-level upsert, pkg/es/writer.go:156-193).

    Returns (files to rewrite, bucket -> files to carry, bytes to
    rewrite); files of unknown size count one full WRITE_TARGET_BYTES.
    The byte total sizes the merge's write and drives the auto
    rewrite-vs-delta choice in cdc/apply.py."""
    sizes = snap.file_sizes or {}
    rewrite: list[str] = []
    carry: dict[int, list[str]] = {}
    overlap_bytes = 0
    for b in range(snap.n_buckets) if kinfo is None else sorted(kinfo):
        info = None if kinfo is None else kinfo[b]
        for rel in snap.buckets.get(b, []):
            if info is None or file_may_hold(snap, rel, info):
                rewrite.append(rel)
                overlap_bytes += sizes.get(rel, WRITE_TARGET_BYTES)
            else:
                carry.setdefault(b, []).append(rel)
    return rewrite, carry, overlap_bytes


@dataclass
class MergeResult:
    version: int
    affected_buckets: list[int]
    source_rows: int | None = None
    wall_sec: float | None = None
    rewritten_files: int | None = None
    carried_files: int | None = None


def dedup_last_writer(
    source: DataFrame, key_cols: list[str], offset_col: str = OFFSET_COL, seq_col: str | None = SEQ_COL
) -> DataFrame:
    """Within-batch last-writer-wins: keep the max-(offset, seq) event per key.

    The reference dedups pending key batches order-preservingly
    (``pkg/realtime/helpers.go:39-53``) and relies on binlog total order;
    here ordering is explicit: ties on offset break by ``seq_in_tx``
    (SURVEY §7 hard part 2).

    A full (offset, seq) tie between DIFFERENT events cannot occur in the
    domain (a binlog position identifies one physical event; duplicate
    delivery re-ships identical bytes, where any pick is the same row) —
    the trailing ``op`` tiebreak is defensive determinism so that even a
    malformed feed yields a winner that is a pure function of the batch
    content, not of partition scheduling.
    """
    order = [F.col(offset_col).desc()]
    if seq_col and seq_col in source.columns:
        order.append(F.col(seq_col).desc())
    if "op" in source.columns:
        order.append(F.col("op").desc())
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        source.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def merge_into(
    table: LakeTable,
    source: DataFrame,
    salt_partitions: int | None = None,
    properties_fn=None,
    key_info: dict[int, BatchKeyInfo] | None = None,
) -> MergeResult:
    """Apply a changelog micro-batch to ``table`` (see module docstring).

    ``source`` columns: the table's key columns, any payload columns,
    ``offset`` (long, monotonic per stream partition), ``op`` in
    {insert, update, delete}; optional ``seq_in_tx``, ``ts``.

    ``key_info``: the batch's per-bucket key info
    (``batch_key_info(...).buckets``). Only those buckets are merged, and
    within them only the files that may hold a batch key are rewritten;
    ``{}`` commits nothing. ``None`` is the bulk shape: every bucket,
    every file, no pruning.

    ``salt_partitions``: number of write tasks; files per commit are
    bounded by max(n_buckets, salt_partitions). Hot buckets (Zipf-skewed
    repos all hashing into few buckets) split across write tasks once
    salt_partitions exceeds n_buckets — see the module docstring's
    write-skew note.
    """

    def commit() -> MergeResult:
        with scoped_merge_conf(table.spark):
            return _merge_once(table, source, salt_partitions, properties_fn, key_info)

    return retry_on_conflict(commit)


def _evolved_schema(snap, source: DataFrame) -> tuple[list[str], T.StructType]:
    """The source's payload columns, and the table schema widened by any
    new ones (schema evolution)."""
    payload_cols = [
        c for c in source.columns
        if c not in snap.key_cols
        and c not in (OFFSET_COL, OP_COL, SEQ_COL, TS_COL, BUCKET_COL)
        and c not in ENGINE_COLS
    ]
    incoming = T.StructType(
        [f for f in source.schema.fields if f.name in snap.key_cols]
        + [f for f in source.schema.fields if f.name in payload_cols]
    )
    return payload_cols, merge_schemas(snap.schema, incoming)


def _merge_once(
    table: LakeTable,
    source: DataFrame,
    salt_partitions: int | None,
    properties_fn,
    key_info: dict[int, BatchKeyInfo] | None,
) -> MergeResult:
    snap = table.snapshot()
    key_cols = snap.key_cols
    affected = list(range(snap.n_buckets)) if key_info is None else sorted(key_info)
    if not affected:
        return MergeResult(version=snap.version, affected_buckets=[])

    # Within-batch dedup is FUSED into the merge window below (one wide
    # shuffle total): the window's (offset desc, seq desc, is_target desc)
    # ordering resolves batch-internal LWW and the cross-batch guard in a
    # single rank. A separate dedup pass would shuffle the full content
    # twice for nothing.
    src = source.withColumn(BUCKET_COL, bucket_expr(key_cols, snap.n_buckets))
    overlap_files, carry_map, overlap_bytes = plan_file_cow(snap, key_info)
    payload_cols, new_schema = _evolved_schema(snap, source)

    src_norm = _normalize_source(
        src, key_cols, payload_cols, extra_exprs=[f"`{BUCKET_COL}`", "0 AS _is_target"]
    )

    # Tombstones included: they hold the offset guard for their key.
    # Only the overlap files are read: a batch key can never live in a
    # carried file (pruning is conservative), so the window below still
    # sees every guard row that matters.
    target = table.read(files=overlap_files, include_deleted=True, resolve_deltas=False)
    # Pending merge-on-read deltas can hold a NEWER (offset, seq) for a
    # batch key than any base file: fold the rows of the deltas that may
    # hold a batch key (deltas_for: recorded hash sets, else ranges) into
    # the target side so the guard window sees them — only rows whose
    # stored hash the batch may touch (_batch_hash_filter). A kept row's
    # hash also puts every base file that may hold its key in the rewrite
    # set, so no key ends up with a base row in a carried file AND one in
    # a rewritten file; a dropped row stays pending in its delta. The
    # delta files stay listed; their folded rows tie with the rewritten
    # base copies at read time and base wins ties, so leaving them is
    # correct — compact_deltas reclaims them.
    dfiles = deltas_for(snap, key_info)
    if dfiles:
        drows = table.delta_rows(version=snap.version, buckets=affected, delta_files=dfiles)
        if key_info is not None:
            drows = drows.filter(_batch_hash_filter(key_info, snap.n_buckets))
        target = target.unionByName(drows, allowMissingColumns=True)
    target = align_to_schema(target, new_schema)
    tgt_norm = (
        target.withColumn(BUCKET_COL, bucket_expr(key_cols, snap.n_buckets))
        .withColumn("_is_target", F.lit(1))
    )

    combined = align_union(src_norm, tgt_norm, new_schema)

    # Write layout: winners land partitioned by (bucket, khash RANGE
    # group). The group is floor(crc32(key) / ceil(2^32 / k)) with k =
    # n_out / n_buckets: when n_out == n_buckets every bucket is ONE
    # write group (one file per bucket per commit), and when n_out =
    # k*n_buckets each bucket splits into k groups — same task/file
    # bounds as the round-3 modular salt (crc32 is uniform, so range
    # groups load-balance exactly as well), but each group covers a
    # CONTIGUOUS key-hash range, so combined with the khash-local sort in
    # write_buckets every data file gets a tight, DISJOINT min/max in the
    # manifest — which is what makes the next merge's file-granular
    # pruning selective.
    n_out = salt_partitions or table.spark.sparkContext.defaultParallelism
    k_groups = max(1, n_out // max(1, snap.n_buckets))
    span = -(-(1 << 32) // k_groups)  # ceil(2^32 / k)
    # Exchange width adapts to the DATA, not the layout dial: a (bucket,
    # group) combo always hashes to exactly one task, so file layout and
    # file COUNT are fixed by k_groups (directory-encoded in
    # write_buckets) no matter how few tasks run — scheduling n_out tasks
    # for a 200-event batch was pure serial floor (measured ~4s of an
    # ~5s small-batch commit at n_out=512, local[8]). Shrink only when
    # the batch is PROVABLY small — every bucket's key set exact under
    # KEY_PRUNE_CAP — sized by the bytes actually rewritten (manifest
    # file_sizes; files with unknown size count one full target each).
    # Bulk paths (no/overflowed key info) keep the full width.
    n_tasks = max(1, n_out)
    narrow = key_info is not None and all(i.khashes is not None for i in key_info.values())
    if narrow:
        n_keys = sum(len(i.khashes) for i in key_info.values())
        est_bytes = overlap_bytes + n_keys * 1024  # generous per-row estimate
        # SURGICAL commits (rewriting under SMALL_COMMIT_BYTES) collapse
        # to ONE write group per bucket: at k_groups range groups such a
        # commit opened affected x k_groups parquet writers (~10-20 ms
        # each of open/codec/footer — the dominant slice of a tiny
        # commit's write stage) to lay out kilobyte files whose range
        # granularity buys nothing (compaction folds them anyway). Big
        # rewrites and delta folds keep the full k_groups granularity, so
        # steady-state file-COW selectivity at scale is untouched.
        if est_bytes <= SMALL_COMMIT_BYTES:
            k_groups = 1
            span = 1 << 32
        n_tasks = min(n_out, max(k_groups, -(-est_bytes // WRITE_TARGET_BYTES)))

    # ONE window resolves everything: max (offset, seq) per key wins —
    # ``last_seq`` is PERSISTED so a transaction split across micro-batches
    # (same offset, later seq arriving in a later batch) still applies; the
    # target wins only a FULL (offset, seq) tie, which is exactly the
    # strict "(offset, seq) >" guard of the sequential oracle
    # (cdc/oracle.py; SURVEY §7 hard part 2).
    #
    # Exchange count (round-6): for a PROVABLY SMALL batch the union is
    # hash-partitioned ONCE by (bucket, write group) — both pure
    # functions of the key, so adding them to the window's partitionBy
    # changes nothing per key, while the explicit repartition satisfies
    # the window's clustering requirement (hash on a subset of the
    # partitionBy columns) AND is already the write layout: the guard
    # window inserts no second exchange and winners flow straight into
    # the bucket-aligned write — one narrow exchange total per commit
    # (plan-asserted in tests/test_r06_optimizations.py). Bulk batches keep
    # the round-3 two-exchange shape: window partitioned by key alone —
    # Spark 4 plans the row_number()==1 filter as WindowGroupLimit, a
    # map-side partial top-1 BEFORE the shuffle, so at most one candidate
    # row per key per input partition crosses the wire; winners-only
    # (much smaller) second exchange aligns the write. (A
    # max_by(struct(row)) aggregation was measured 3x slower — sort-agg
    # fallback; writing the key-hash-distributed window output directly
    # explodes into n_tasks*n_buckets files, also 3x slower — BENCH.md
    # round-3 table. Forcing the one-exchange shape on bulk batches too
    # measured neutral in three A/B pairs, OPTIMIZATION_r06.md.)
    wg = F.floor(F.col(KHASH_COL) / F.lit(span)).cast("int")
    order = [
        F.col("last_offset").desc_nulls_last(),
        F.coalesce(F.col("last_seq"), F.lit(0)).desc(),
        F.col("_is_target").desc(),
    ]
    if narrow:
        combined = combined.withColumn(KHASH_COL, khash_expr(key_cols)).withColumn("_wg", wg)
        combined = combined.repartition(n_tasks, F.col(BUCKET_COL), F.col("_wg"))
        w = Window.partitionBy(BUCKET_COL, "_wg", *key_cols).orderBy(*order)
        winners = (
            combined.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_is_target", "_wg")
        )
    else:
        w = Window.partitionBy(*key_cols).orderBy(*order)
        winners = (
            combined.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_is_target")
        )
        winners = winners.withColumn(KHASH_COL, khash_expr(key_cols))
        winners = winners.repartition(n_tasks, F.col(BUCKET_COL), wg)

    new_snap = table.write_buckets(
        winners,
        replaced_buckets=affected,
        new_schema=new_schema,
        expected_version=snap.version,
        properties_fn=properties_fn,
        carry_files=carry_map,
        n_write_groups=k_groups,
    )
    return MergeResult(
        version=new_snap.version,
        affected_buckets=affected,
        rewritten_files=len(overlap_files),
        carried_files=sum(len(fl) for fl in carry_map.values()),
    )


def _batch_hash_filter(key_info: dict[int, BatchKeyInfo], n_buckets: int) -> str:
    """SQL predicate on the stored _khash: the rows a batch with this key
    info may touch — the exact hash where the bucket's set is exact, the
    bucket's [lo, hi] where it is not; NULL hashes (pre-khash files) kept.
    The exact hashes travel as ONE string literal that the optimizer
    folds into an array constant: an IN list costs the parser and
    analyzer ~0.15 ms per hash (~0.5 s for a 3 200-key fold), a Column
    isin a py4j round trip per hash."""
    kh = f"`{KHASH_COL}`"
    exact = [h for i in key_info.values() if i.khashes is not None for h in i.khashes]
    terms = [f"{kh} IS NULL"]
    if exact:
        csv = ",".join(str(h) for h in exact)
        terms.append(f"array_contains(CAST(split('{csv}', ',') AS array<bigint>), {kh})")
    terms += [
        f"(pmod({kh}, {n_buckets}) = {b} AND {kh} BETWEEN {i.lo} AND {i.hi})"
        for b, i in key_info.items()
        if i.khashes is None
    ]
    return " OR ".join(terms)


def _normalize_source(
    src: DataFrame,
    key_cols: list[str],
    payload_cols: list[str],
    extra_exprs: list[str] | None = None,
) -> DataFrame:
    """Changelog events → engine row shape (payload + last_offset/last_seq/
    last_op/_deleted/updated_at). Built as SQL expression strings in ONE
    selectExpr call (Column objects cost ~3 py4j round trips each; this
    runs per micro-batch — see align_to_schema for the measured per-commit
    driver floor). Delete events carry no after-image: their payload is
    nulled so a delete winner becomes a pure tombstone."""
    is_delete_sql = f"`{OP_COL}` = 'delete'"
    ts_sql = (
        f"CAST(`{TS_COL}` AS timestamp)" if TS_COL in src.columns else "CAST(NULL AS timestamp)"
    )
    seq_sql = f"CAST(`{SEQ_COL}` AS bigint)" if SEQ_COL in src.columns else "CAST(0 AS bigint)"
    return src.selectExpr(
        *[f"`{k}`" for k in key_cols],
        *[
            f"CASE WHEN {is_delete_sql} "
            f"THEN CAST(NULL AS {src.schema[c].dataType.simpleString()}) "
            f"ELSE `{c}` END AS `{c}`"
            for c in payload_cols
        ],
        f"CAST(`{OFFSET_COL}` AS bigint) AS last_offset",
        f"{seq_sql} AS last_seq",
        f"`{OP_COL}` AS last_op",
        f"({is_delete_sql}) AS `{DELETED_COL}`",
        f"{ts_sql} AS updated_at",
        *(extra_exprs or []),
    )


def merge_into_delta(
    table: LakeTable,
    source: DataFrame,
    properties_fn=None,
    key_info: dict[int, BatchKeyInfo] | None = None,
    before_link=None,
) -> MergeResult:
    """Merge-on-read apply: the O(batch) tail write path.

    Where ``merge_into`` rewrites every base file a batch key might live
    in (~160 file read+writes for a 200-event batch on a fragmented
    table — the measured ~2.5 s/batch floor the round-4 verdict flagged),
    this appends the batch's within-batch LWW winners as ONE small delta
    file and touches no base file. The cross-batch (offset, seq) guard
    DEFERS to readers (``LakeTable.read`` and ``read_keys``) and to the next
    rewrite/compaction, both of which order by the same window — so
    delta-apply-then-read is state-identical to rewrite-apply-then-read
    (pinned against the sequential oracle in tests/test_delta_merge.py).

    This is the Hudi/Paimon merge-on-read trade expressed on this lake
    format: write cost O(batch) at the price of a bounded read-side
    resolve, with ``maintenance.compact_deltas`` folding the debt back
    into base files. The apply core auto-picks it for small batches and
    auto-folds past a debt threshold (cdc/apply.py).

    The commit is write -> decide -> link (``LakeTable.append_delta``):
    the file is written first, ``before_link`` (if given) may then turn
    it down — append_delta raises DeltaDeclined and the caller rewrites
    instead — or supply the key info it observed on the write; only the
    link retries on CommitConflict.

    ``key_info``: the batch's per-bucket key info, as ``merge_into`` takes
    it (or as ``before_link`` returns it). It prunes nothing here; it
    names the delta's buckets, and when exact and small its hash set is
    recorded for the delta file (``Snapshot.delta_khashes``) so point
    lookups and later rewrite merges read only the deltas that can hold
    their keys.
    """
    snap = table.snapshot()
    payload_cols, new_schema = _evolved_schema(snap, source)
    # NO within-batch dedup: the reader's resolution window picks the
    # max-(offset, seq) row per key anyway, so a dedup here would spend a
    # whole shuffle (~0.4 s of a ~1 s append, measured: 64 scheduled
    # window tasks for 200 rows) to shave a few duplicate rows off a
    # kilobyte-scale file. Delta files carry all batch rows; dedup debt
    # is settled at read/fold time like the rest of the guard.
    winners = _normalize_source(source, snap.key_cols, payload_cols)
    with scoped_merge_conf(table.spark):
        new_snap = table.append_delta(
            winners,
            properties_fn=properties_fn,
            new_schema=new_schema,
            key_info=key_info,
            before_link=before_link,
        )
    return MergeResult(
        version=new_snap.version,
        affected_buckets=[],
        rewritten_files=0,
        carried_files=sum(len(fl) for fl in new_snap.buckets.values()),
    )


def align_union(a: DataFrame, b: DataFrame, schema: T.StructType) -> DataFrame:
    extras = [BUCKET_COL, "_is_target"]

    def proj(df: DataFrame) -> DataFrame:
        # SQL expression strings, one selectExpr call: Column objects cost
        # ~3 py4j round trips each, and this runs per micro-batch commit
        # (see align_to_schema for the measured driver-floor numbers).
        have = set(df.columns)
        exprs = []
        for f in schema.fields:
            t = f.dataType.simpleString()
            if f.name in have:
                exprs.append(f"CAST(`{f.name}` AS {t}) AS `{f.name}`")
            else:
                exprs.append(f"CAST(NULL AS {t}) AS `{f.name}`")
        exprs += [f"`{c}`" for c in extras]
        return df.selectExpr(*exprs)

    return proj(a).unionByName(proj(b))
