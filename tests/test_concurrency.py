"""Optimistic-concurrency: two writers racing on one table.

The lake's commit protocol (VERSION swap with expected-parent check) must
serialize concurrent MERGEs: the loser sees CommitConflict and retries on
the new snapshot — the analog of Iceberg's CommitFailedException retry and
of the reference's conflict recompute (pkg/pipeline/sink/bulkwriter.go:188-266).
"""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from binlog_es_go_spark.cdc.apply import apply_batch
from binlog_es_go_spark.cdc.events import generate_changelog
from binlog_es_go_spark.cdc.oracle import apply_sequential, table_digest
from binlog_es_go_spark.lake.table import CommitConflict, LakeTable

PAYLOAD = T.StructType([T.StructField(n, T.StringType()) for n in ["repo", "path", "commit", "lang", "content"]])


def test_concurrent_merges_serialize_and_converge(spark, tmp_path):
    log = generate_changelog(spark, 2000, n_repos=15, paths_per_repo=10, seed=31)
    log.cache().count()
    t = LakeTable.create(spark, str(tmp_path / "t"), PAYLOAD, key_cols=["repo", "path"], n_buckets=8)

    halves = [log.filter(F.col("offset") < 1000), log.filter(F.col("offset") >= 1000)]
    errors: list[Exception] = []

    def run(i: int) -> None:
        try:
            apply_batch(t, halves[i], batch_id=i)
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors

    # both commits landed (one of them via conflict retry)
    assert t.current_version() == 2
    oracle = apply_sequential(log.toPandas())
    got = t.read().select("repo", "path", "content").toPandas()
    assert len(got) == len(oracle)
    assert table_digest(got) == table_digest(oracle[["repo", "path", "content"]])
    # the conflict-retry loser must MERGE offsets against the winner's
    # committed base, never replace them with its stale-snapshot view —
    # a regressed partition offset would unsafely lower the tombstone-GC
    # watermark (min over partitions)
    from binlog_es_go_spark.cdc.apply import applied_offsets

    expected = {
        str(r["partition_id"]): int(r["mx"])
        for r in log.groupBy("partition_id").agg(F.max("offset").alias("mx")).collect()
    }
    assert applied_offsets(t) == expected


def test_properties_fn_gets_fresh_base_properties(spark, tmp_path):
    """write_buckets must hand properties_fn the properties of the snapshot
    the commit actually builds on, so offset merges survive interleaved
    writers."""
    from binlog_es_go_spark.cdc.apply import OFFSETS_PROP

    t = LakeTable.create(spark, str(tmp_path / "t"), PAYLOAD, key_cols=["repo", "path"], n_buckets=4)
    empty = t.read(buckets=[]).limit(0).withColumn("_bucket", F.lit(0).cast("int"))
    # writer B commits partition-1 offsets first
    t.write_buckets(empty, replaced_buckets=[], properties_update={OFFSETS_PROP: {"1": 50}})

    def fn(base_props: dict) -> dict:
        prev = dict(base_props.get(OFFSETS_PROP, {}))
        prev["0"] = max(int(prev.get("0", -1)), 10)
        return {OFFSETS_PROP: prev}

    t.write_buckets(empty, replaced_buckets=[], properties_fn=fn)
    assert t.snapshot().properties[OFFSETS_PROP] == {"0": 10, "1": 50}


def test_stale_handle_commit_conflict_raises(spark, tmp_path):
    """Direct write_buckets with a stale expected_version must refuse."""
    t = LakeTable.create(spark, str(tmp_path / "t"), PAYLOAD, key_cols=["repo", "path"], n_buckets=4)
    log = generate_changelog(spark, 200, n_repos=5, paths_per_repo=5, seed=32)
    apply_batch(t, log, batch_id=0)  # v1
    df = t.with_bucket(t.read(include_deleted=True))
    with pytest.raises(CommitConflict):
        t.write_buckets(df, replaced_buckets=[0], expected_version=0)


def test_retry_on_conflict_ladder(monkeypatch):
    """The one retry every writer shares: 5 attempts on the 0.2 * 2^n s
    backoff ladder, then the last CommitConflict propagates; a commit
    that wins on a later attempt returns its result."""
    import binlog_es_go_spark.lake.table as tb

    slept: list[float] = []
    monkeypatch.setattr(tb.time, "sleep", slept.append)
    calls = []

    def always_loses():
        calls.append(1)
        raise CommitConflict("lost")

    with pytest.raises(CommitConflict):
        tb.retry_on_conflict(always_loses)
    assert len(calls) == 5
    assert slept == [0.2, 0.4, 0.8, 1.6]

    slept.clear()
    outcomes = iter([CommitConflict("lost"), CommitConflict("lost"), "v7"])

    def wins_third():
        o = next(outcomes)
        if isinstance(o, Exception):
            raise o
        return o

    assert tb.retry_on_conflict(wins_third) == "v7"
    assert slept == [0.2, 0.4]
