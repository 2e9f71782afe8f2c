"""The apply core: changelog micro-batch -> lake state.

One core, three key sources (the reference's single most important
architectural fact, SURVEY.md §3.3):

* realtime tail  (``runEventLoop``,   pkg/realtime/loop.go:24-520)
* bootstrap scan (``Runner.Run``,     pkg/bootstrap/runner.go:421-620)
* replay         (``RunWithIDs``,     pkg/bootstrap/runner.go:37-132)

Per batch: op/relevance filter -> flatten after-image -> within-batch LWW
dedup -> optional enrichment/mapping -> offset-guarded MERGE -> offsets +
lineage rows recorded in the same commit (atomically, via the manifest
properties — the analog of saving the binlog position after each flush,
``pkg/realtime/flush.go:212-232``).
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from binlog_es_go_spark.cdc.events import flatten_changelog
from binlog_es_go_spark.lake.merge import (
    SMALL_COMMIT_BYTES,
    WRITE_TARGET_BYTES,
    BatchKeys,
    MergeResult,
    batch_key_info,
    dedup_last_writer,
    merge_into,
    merge_into_delta,
    observe_batch_keys,
    observed_batch_keys,
    plan_file_cow,
)
from binlog_es_go_spark.lake.table import BatchKeyInfo, DeltaDeclined, LakeTable

OFFSETS_PROP = "stream_offsets"  # properties key: {partition_id: max offset applied}
LINEAGE_PROP = "lineage"         # properties key: list of per-batch metric rows

# Observation probe range for per-partition offsets when the stream
# partition count is undeclared (fresh-table fast path): covers the
# reserved epoch (-2) / recompute (-1) partitions plus 64 real ones.
PID_PROBE_LO = -2
PID_PROBE_HI = 64

# Auto write-mode floor: a batch whose copy-on-write rewrite would move
# less than this many base-file bytes just rewrites (cheap, keeps the
# table delta-free); above it, AND when the rewrite is >=32x the batch's
# own size, the merge-on-read delta path wins (see apply_batch).
DELTA_MIN_REWRITE_BYTES = 8 << 20
# ...and the rewrite must amplify the batch by at least this factor
# (batch size proxied at ~1 KB/key) before delta wins.
DELTA_MIN_AMPLIFICATION = 32


def partition_offsets(changelog: DataFrame) -> dict[str, int]:
    """Per-source-partition max offset of a batch (GTID-set analog)."""
    rows = changelog.groupBy("partition_id").agg(F.max("offset").alias("mx")).collect()
    return {str(r["partition_id"]): int(r["mx"]) for r in rows}


def apply_batch(
    table: LakeTable,
    changelog: DataFrame,
    mapper: Callable[[DataFrame], DataFrame] | None = None,
    batch_id: int | None = None,
    source: str = "realtime",
    salt_partitions: int | None = None,
    prune_buckets: bool = True,
    stream_partitions: int | None = None,
    batch_keys: BatchKeys | None = None,
    extra_properties: dict | None = None,
    write_mode: str = "auto",
    delta_max_batch_keys: int = 20_000,
    delta_fold_after: int = 32,
) -> MergeResult:
    """Apply one changelog micro-batch to the lake table.

    ``write_mode``:

    * ``"rewrite"`` — copy-on-write MERGE (merge_into): every base file a
      batch key might live in is rewritten. O(files touched) per batch.
    * ``"delta"`` — merge-on-read append (merge_into_delta): the batch's
      winners land as one small delta file, no base file touched.
      O(batch) per batch; readers resolve by the same (offset, seq) guard.
    * ``"auto"`` (default) — delta when the batch is PROVABLY small
      (every bucket's key set exact under the prune cap and total keys <=
      ``delta_max_batch_keys``) and a rewrite would move far more bytes
      than the batch carries, rewrite otherwise. Once
      ``delta_fold_after`` delta commits have accumulated, the debt is
      folded (maintenance.compact_deltas) before the next delta is
      linked — so steady-state tail cost is O(batch) per commit plus one
      amortized rewrite every ``delta_fold_after`` commits, and read-side
      resolve work stays bounded. An empty batch commits nothing.

    ``mapper``: optional enrichment/field-mapping stage (the analog of the
    reference's mapping SQL, ``pkg/db/mysql.go:124-180``) applied to the
    flattened, deduped batch before MERGE. It must preserve the key
    columns and the offset/op/ts columns.

    ``stream_partitions``: when the source-partition count is known (it is
    a fixed property of the upstream binlog/WAL shipper, like the
    reference's replication stream identity), per-partition max offsets
    are collected as Observation metrics DURING the merge write itself —
    zero extra jobs per batch. Unknown -> a dedicated column-pruned scan.

    ``batch_keys``: the batch's metadata — per-partition max offsets and
    per-bucket key info, a ``lake.merge.BatchKeys`` as
    ``lake.merge.batch_key_info`` returns it. Callers that already hold it
    (``replay_changelog`` computes it for ALL its batches in one scan)
    skip the per-batch metadata job entirely while keeping file-granular
    COW pruning and the small-batch write shape. Without it, the default
    ``prune_buckets=True`` learns it one of two ways:

    * write -> decide -> link, for a batch that is provably small (the
      optimizer's size estimate of the flattened batch at most
      SMALL_COMMIT_BYTES, a plan statistic that costs no job) and may go
      delta (``"delta"``, or ``"auto"`` on a table whose base files hold
      at least DELTA_MIN_REWRITE_BYTES — below that the rewrite is
      certain): the delta file is written first, the key info observed
      on that write job (lake.merge.observe_batch_keys), the decision
      made on it, and the file then linked — or, on a rewrite decision,
      removed and the batch merged with the observed key info. One Spark
      job per delta commit.
    * otherwise one batch_key_info scan before the merge.

    ``prune_buckets=False`` is the bulk shape — every bucket rewritten
    unpruned, offsets observed during the write as under
    ``stream_partitions``.

    Each commit appends a LINEAGE_PROP row holding its offsets, wall time
    and write decision: ``mode`` (delta or rewrite), ``n_keys`` (None
    unless every bucket's key set is exact), ``overlap_bytes`` (the base
    bytes a rewrite would move; None without key info) and ``key_info``
    (``observed``, ``scanned``, or None for the bulk shape).
    """
    t0 = time.time()
    snap = table.snapshot()

    flat = flatten_changelog(changelog)

    obs = None
    obs_pids: range | None = None
    obs_strict = False
    key_obs = None
    key_source = "scanned" if batch_keys is not None else None
    if batch_keys is None and prune_buckets:
        # incremental tail: a micro-batch touches few buckets — learn them
        # (plus per-partition offsets and the per-bucket key-hash sets
        # that drive file-granular COW) so the MERGE reads O(batch) target
        # files, not O(table): observed on the delta write when the batch
        # is provably small, else in one column-pruned scan
        if _may_observe_keys(flat, snap, write_mode):
            flat, key_obs = observe_batch_keys(flat, snap.key_cols)
            key_source = "observed"
        else:
            batch_keys = batch_key_info(flat, snap.key_cols, snap.n_buckets)
            key_source = "scanned"
    if batch_keys is None and key_obs is None:
        # bulk replay/bootstrap: batches touch ~every bucket, so bucket
        # discovery is pure serial overhead — rewrite all buckets and
        # collect per-partition offsets as Observation metrics DURING the
        # merge write itself (zero extra jobs). When the stream partition
        # count is undeclared, a fixed probe range of partition ids is
        # observed instead ([-2, 64): the reserved epoch/recompute
        # partitions plus 64 real ones); a feed outside the probe falls
        # back to one explicit offsets job (rare, still correct) — this
        # replaces the round-5 unconditional partition_offsets job.
        from pyspark.sql import Observation

        obs_strict = stream_partitions is not None
        obs_pids = range(stream_partitions) if obs_strict else range(PID_PROBE_LO, PID_PROBE_HI)
        obs = Observation()
        flat = flat.observe(
            obs,
            *[
                F.max(F.when(F.col("partition_id") == p, F.col("offset"))).alias(f"p{p}")
                for p in obs_pids
            ],
            F.max("partition_id").alias("max_pid"),
            F.min("partition_id").alias("min_pid"),
        )

    # partition_id is stream metadata, not document payload
    flat = flat.drop("partition_id")

    if mapper is not None:
        # mapping runs on the deduped batch (recompute once per key, the
        # reference's batch-recompute amortization, flush.go:39)
        flat = mapper(dedup_last_writer(flat, snap.key_cols))

    decision: dict = {"key_info": key_source}

    def props_after_write(base_props: dict) -> dict:
        # ``base_props`` is the properties of the snapshot the commit is
        # actually building on — on a CommitConflict retry that is NEWER
        # than ``snap`` captured above, and merging against the stale copy
        # would silently drop/regress the other writer's per-partition
        # offsets (and, later, inflate the tombstone-GC watermark).
        batch_offs = dict(batch_keys.offsets) if batch_keys is not None else {}
        if obs is not None:
            got = obs.get
            max_pid = got.get("max_pid")
            min_pid = got.get("min_pid")
            if obs_strict and max_pid is not None and max_pid >= stream_partitions:
                raise ValueError(
                    f"event partition_id {max_pid} >= declared stream_partitions={stream_partitions}"
                )
            if not obs_strict and max_pid is not None and (
                max_pid >= PID_PROBE_HI or min_pid < PID_PROBE_LO
            ):
                # partition ids outside the probe range: pay the explicit
                # offsets job (rare; correctness over the saved job)
                batch_offs = partition_offsets(changelog)
            else:
                batch_offs = {
                    str(p): int(got[f"p{p}"])
                    for p in obs_pids
                    if got.get(f"p{p}") is not None
                }
        prev = dict(base_props.get(OFFSETS_PROP, {}))
        for p, mx in batch_offs.items():
            prev[p] = max(int(prev.get(p, -1)), int(mx))
        return {
            OFFSETS_PROP: prev,
            LINEAGE_PROP: list(base_props.get(LINEAGE_PROP, []))[-200:]
            + [
                {
                    "batch_id": batch_id,
                    "source": source,
                    "offsets": batch_offs,
                    "wall_sec": round(time.time() - t0, 2),
                    **decision,
                }
            ],
            **(extra_properties or {}),
        }

    def use_delta(kinfo: dict[int, BatchKeyInfo] | None) -> bool:
        """The write-mode decision; its inputs go to the lineage row."""
        n_keys = overlap = None
        if kinfo is not None:
            overlap = plan_file_cow(snap, kinfo)[2]
            if all(i.khashes is not None for i in kinfo.values()):
                n_keys = sum(len(i.khashes) for i in kinfo.values())
        if kinfo == {}:
            delta = False  # empty batch: the rewrite path commits nothing
        elif write_mode == "auto":
            # delta pays off when the rewrite would move far more bytes
            # than the batch carries (~1 KB/key is generous); bulk loads
            # and cheap surgical rewrites keep the copy-on-write path
            delta = (
                n_keys is not None
                and n_keys <= delta_max_batch_keys
                and overlap >= DELTA_MIN_REWRITE_BYTES
                and overlap >= DELTA_MIN_AMPLIFICATION * n_keys * 1024
            )
        else:
            delta = write_mode == "delta"
        decision.update(mode="delta" if delta else "rewrite", n_keys=n_keys, overlap_bytes=overlap)
        return delta

    def fold_if_due() -> None:
        if len(snap.deltas or []) >= delta_fold_after:
            # fold the accumulated delta debt ONCE, then link — the
            # amortized rewrite that keeps reader resolve work bounded
            from binlog_es_go_spark.lake.maintenance import compact_deltas

            compact_deltas(table, salt_partitions=salt_partitions)

    def rewrite() -> MergeResult:
        return merge_into(
            table,
            flat,
            salt_partitions=salt_partitions,
            properties_fn=props_after_write,
            key_info=batch_keys.buckets if batch_keys is not None else None,
        )

    if key_obs is not None:
        # write -> decide -> link: the delta write observes the key info
        def decide() -> dict[int, BatchKeyInfo] | None:
            nonlocal batch_keys
            batch_keys = observed_batch_keys(key_obs, snap.n_buckets)
            if not use_delta(batch_keys.buckets):
                return None
            fold_if_due()
            return batch_keys.buckets

        try:
            result = merge_into_delta(
                table, flat, properties_fn=props_after_write, before_link=decide
            )
        except DeltaDeclined:
            result = rewrite()
    else:
        kinfo = batch_keys.buckets if batch_keys is not None else None
        if use_delta(kinfo):
            fold_if_due()
            result = merge_into_delta(table, flat, properties_fn=props_after_write, key_info=kinfo)
        else:
            result = rewrite()
    result.wall_sec = time.time() - t0
    return result


def _may_observe_keys(flat: DataFrame, snap, write_mode: str) -> bool:
    """Whether apply_batch learns the batch's key info on its delta write
    (see apply_batch): the commit may go delta, and the batch is provably
    small by the optimizer's size estimate — a driver-side plan statistic,
    no job. Sources Spark cannot size (an RDD-backed dump, say) estimate
    at its huge default and keep the scan."""
    if write_mode == "rewrite":
        return False
    if write_mode == "auto":
        sizes = snap.file_sizes or {}
        base_bytes = sum(
            sizes.get(rel, WRITE_TARGET_BYTES) for fl in snap.buckets.values() for rel in fl
        )
        if base_bytes < DELTA_MIN_REWRITE_BYTES:
            return False  # no overlap can reach the delta floor: rewrite
    est = flat._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return int(est) <= SMALL_COMMIT_BYTES


def replay_changelog(
    table: LakeTable,
    changelog: DataFrame,
    boundaries: list[int],
    mapper: Callable[[DataFrame], DataFrame] | None = None,
    source: str = "replay",
    salt_partitions: int | None = None,
    first_batch_id: int = 0,
) -> list[MergeResult]:
    """Bulk multi-commit replay with ONE metadata pass (backfill path).

    ``boundaries``: sorted offset cut points; commit i covers offsets in
    ``[boundaries[i-1], boundaries[i])`` (first: below boundaries[0];
    last: at or above boundaries[-1]). Identical semantics to calling
    ``apply_batch`` once per range — same MERGEs, same manifest commits,
    same (offset, seq) guard — but the per-batch metadata jobs (affected
    buckets + per-partition max offsets) collapse into a single
    column-pruned scan grouped by batch: for a K-commit backfill that
    removes K-1 serial driver jobs, the dominant amortizable slice of the
    per-commit floor (BENCH.md "Round-3 serial-floor attack").
    """
    snap = table.snapshot()
    flat = flatten_changelog(changelog)
    # batch id = how many boundaries the offset has passed. ONE shallow
    # array expression (a flat array literal + filter + size), not a chain
    # of K additive comparisons: the chained form built a K-deep expression
    # tree whose analysis/codegen cost degenerates around K~10^4, while
    # this stays a single node with O(K) vectorized comparisons per row.
    bounds_lit = F.lit([int(b) for b in boundaries])
    batch = F.size(F.filter(bounds_lit, lambda b: F.col("offset") >= b))
    per_batch = batch_key_info(flat, snap.key_cols, snap.n_buckets, batch=batch)

    results = []
    cuts = [None, *boundaries, None]
    for i in range(len(boundaries) + 1):
        if i not in per_batch:
            continue  # empty range: no commit, same as apply_batch on empty
        lo, hi = cuts[i], cuts[i + 1]
        part = changelog
        if lo is not None:
            part = part.filter(F.col("offset") >= int(lo))
        if hi is not None:
            part = part.filter(F.col("offset") < int(hi))
        results.append(
            apply_batch(
                table, part, mapper=mapper, batch_id=first_batch_id + i,
                source=source, salt_partitions=salt_partitions,
                batch_keys=per_batch[i],
            )
        )
    return results


def applied_offsets(table: LakeTable) -> dict[str, int]:
    return {k: int(v) for k, v in table.snapshot().properties.get(OFFSETS_PROP, {}).items()}


def filter_unapplied(changelog: DataFrame, offsets: dict[str, int]) -> DataFrame:
    """Drop events at-or-below the recorded per-partition offsets.

    Cross-batch replay protection for restarts: the coarse filter here
    skips whole prefixes cheaply; the MERGE offset guard catches anything
    that slips through (belt and suspenders, both deterministic).

    The reserved epoch partition (bootstrap's EPOCH_PARTITION, -2) is a
    GLOBAL floor: a dump-based bootstrap at epoch E means "state as of
    offset E on every partition", so events with offset <= E drop
    regardless of partition — without this, a stale insert for a key whose
    delete predates the dump (hence no tombstone) would resurrect it.
    """
    if not offsets:
        return changelog
    from binlog_es_go_spark.cdc.bootstrap import EPOCH_PARTITION

    expr = F.lit(True)
    floor = offsets.get(str(EPOCH_PARTITION))
    if floor is not None:
        expr = expr & (F.col("offset") > int(floor))
    for p, o in offsets.items():
        if int(p) == EPOCH_PARTITION:
            continue
        expr = expr & ~((F.col("partition_id") == int(p)) & (F.col("offset") <= o))
    return changelog.filter(expr)
