"""Tail commits that learn their batch keys from the delta write.

A provably small batch headed for the delta path is written first; its
key info comes from an Observation on that write job, the write-mode
decision is made on it, and the file is then linked (or removed and the
batch rewritten). Pinned here: the observed key info equals the scanned
one, a delta commit runs one Spark job, empty batches commit nothing, the
rewrite fallback leaves no unlinked file, a conflict re-links without a
second write, and every commit records its decision in its lineage row.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import binlog_es_go_spark.lake.merge as mg
from binlog_es_go_spark.cdc.apply import (
    DELTA_MIN_REWRITE_BYTES,
    LINEAGE_PROP,
    apply_batch,
    applied_offsets,
)
from binlog_es_go_spark.cdc.events import flatten_changelog, generate_changelog
from binlog_es_go_spark.cdc.oracle import apply_sequential, table_digest
from binlog_es_go_spark.lake.table import LakeTable

PAYLOAD = T.StructType(
    [T.StructField(n, T.StringType()) for n in ["repo", "path", "commit", "lang", "content"]]
)
EVENT_SCHEMA = (
    "offset long, partition_id int, seq_in_tx int, op string, repo string, path string, "
    "before struct<commit:string,lang:string,content:string>, "
    "after struct<commit:string,lang:string,content:string>, ts timestamp"
)
EVENT_SCHEMA_EXTRA = (
    "offset long, partition_id int, seq_in_tx int, op string, repo string, path string, "
    "before struct<commit:string,lang:string,extra:string,content:string>, "
    "after struct<commit:string,lang:string,extra:string,content:string>, ts timestamp"
)
BIG_ROWS = 4500  # x ~2 KB of incompressible content: a base file over 8 MB


def _events(spark, tmp_path, name, rows, extra=False):
    """(offset, partition, op, repo, path, content) tuples -> a changelog
    read back from parquet, as a tail shipper's batch file is: a source
    the optimizer can size (a frame built from a Python list is unsized
    and keeps the scan). ``extra`` adds a payload column to the after
    image (schema evolution)."""
    path = str(tmp_path / f"{name}.parquet")
    image = ("c" * 40, "py") + (("x",) if extra else ())
    schema = EVENT_SCHEMA_EXTRA if extra else EVENT_SCHEMA
    spark.createDataFrame(
        [
            (o, p, 0, op, r, f, None, None if op == "delete" else (*image, c), None)
            for o, p, op, r, f, c in rows
        ],
        schema,
    ).write.parquet(path)
    return spark.read.parquet(path)


def _big_table(spark, tmp_path):
    """One bucket, one base file of BIG_ROWS keys holding >= 8 MB, so an
    auto commit of a few keys overlaps enough bytes to go delta. Returns
    the table and its load events."""
    load = spark.range(BIG_ROWS).selectExpr(
        "id AS offset",
        "0 AS partition_id",
        "0 AS seq_in_tx",
        "'insert' AS op",
        "concat('r', id % 50) AS repo",
        "concat('p', id, '.py') AS path",
        "CAST(NULL AS struct<commit:string,lang:string,content:string>) AS before",
        "named_struct('commit', md5(CAST(id AS string)), 'lang', 'py', 'content', "
        "concat_ws('', transform(sequence(1, 64), i -> md5(concat(id, '-', i))))) AS after",
        "CAST(NULL AS timestamp) AS ts",
    )
    t = LakeTable.create(spark, str(tmp_path / "big"), PAYLOAD, key_cols=["repo", "path"],
                         n_buckets=1)
    apply_batch(t, load, batch_id=0, salt_partitions=1)
    snap = t.snapshot()
    assert sum(snap.file_sizes[r] for r in snap.buckets[0]) >= DELTA_MIN_REWRITE_BYTES
    return t, load


def _state(table):
    return table_digest(table.read().select("repo", "path", "content").toPandas())


def _oracle(*changelogs):
    pdf = pd.concat([c.toPandas() for c in changelogs], ignore_index=True)
    return table_digest(apply_sequential(pdf)[["repo", "path", "content"]])


def _data_dirs(table):
    return set(os.listdir(os.path.join(table.root, "data")))


def _linked_dirs(table):
    """Commit directories referenced by any manifest version."""
    out = set()
    for v in range(table.current_version() + 1):
        snap = table.snapshot(v)
        for rel in [p for fl in snap.buckets.values() for p in fl] + list(snap.deltas or []):
            out.add(rel.split(os.sep)[1])
    return out


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _observed(flat, key_cols, n_buckets):
    df, obs = mg.observe_batch_keys(flat, key_cols)
    df.write.format("noop").mode("overwrite").save()
    return mg.observed_batch_keys(obs, n_buckets)


@pytest.mark.parametrize("cap", [None, 3])
def test_observed_key_info_equals_scanned(spark, monkeypatch, cap):
    """Several stream partitions, deletes and re-delivered duplicates: the
    observed BatchKeys equal batch_key_info's, also when a low
    KEY_PRUNE_CAP degrades buckets to [lo, hi]."""
    if cap is not None:
        monkeypatch.setattr(mg, "KEY_PRUNE_CAP", cap)
    log = generate_changelog(spark, 400, n_repos=12, paths_per_repo=6, n_partitions=4,
                             delete_ratio=0.2, duplicate_ratio=0.1, seed=11)
    flat = flatten_changelog(log).cache()
    pdf = flat.toPandas()
    assert pdf["partition_id"].nunique() == 4
    assert (pdf["op"] == "delete").any() and pdf.duplicated(["offset", "partition_id"]).any()
    for n_buckets in (1, 8):
        scanned = mg.batch_key_info(flat, ["repo", "path"], n_buckets)
        assert _observed(flat, ["repo", "path"], n_buckets) == scanned
        inexact = [b for b, i in scanned.buckets.items() if i.khashes is None]
        assert bool(inexact) == (cap is not None), (n_buckets, inexact)
    flat.unpersist()


def test_small_auto_delta_commit_runs_one_job(spark, tmp_path):
    t, _ = _big_table(spark, tmp_path)
    batch = _events(spark, tmp_path, "batch", [
        (10_000, 0, "update", "r1", "p1.py", "u1"),
        (10_001, 1, "delete", "r2", "p2.py", None),
        (10_001, 1, "delete", "r2", "p2.py", None),  # re-delivered
    ])
    v = t.current_version()
    _, jobs = _jobs_in_group(spark, "observed-delta", lambda: apply_batch(t, batch, batch_id=1))
    snap = t.snapshot()
    assert snap.version == v + 1 and len(snap.deltas) == 1
    assert jobs == 1
    row = snap.properties[LINEAGE_PROP][-1]
    assert (row["mode"], row["key_info"], row["n_keys"]) == ("delta", "observed", 2)
    assert applied_offsets(t) == {"0": 10_000, "1": 10_001}
    assert t.read_keys([("r1", "p1.py"), ("r2", "p2.py")]).select("content").collect() == [("u1",)]


def test_empty_batch_commits_nothing(spark, tmp_path):
    t, _ = _big_table(spark, tmp_path)
    v, dirs = t.current_version(), _data_dirs(t)
    empty = _events(spark, tmp_path, "empty", [])
    for mode in ("auto", "delta"):
        apply_batch(t, empty, batch_id=1, write_mode=mode)
        assert t.current_version() == v, mode
        assert _data_dirs(t) == dirs, mode


def test_observed_rewrite_fallback_leaves_no_orphan(spark, tmp_path):
    """A rewrite decision on the observed key info removes the written
    delta directory and merges with that key info; state equals the
    sequential oracle."""
    t, load = _big_table(spark, tmp_path)
    batch = _events(spark, tmp_path, "batch", [
        (10_000, 0, "update", "r3", "p3.py", "u3"),
        (10_001, 0, "insert", "new", "n.py", "n1"),
    ])
    apply_batch(t, batch, batch_id=1, delta_max_batch_keys=0)
    snap = t.snapshot()
    assert not snap.deltas
    row = snap.properties[LINEAGE_PROP][-1]
    assert (row["mode"], row["key_info"], row["n_keys"]) == ("rewrite", "observed", 2)
    assert _data_dirs(t) == _linked_dirs(t)
    assert _state(t) == _oracle(load, batch)


@pytest.mark.parametrize("rival_adds_column", [False, True])
def test_conflict_between_write_and_link_relinks(spark, tmp_path, monkeypatch,
                                                 rival_adds_column):
    """A rival commit landing between the delta's write and its link makes
    the link lose with CommitConflict; the retry links the same file on
    the rival's snapshot — one delta directory, one write — and both
    writers' offsets survive. Only a rival that changed the schema makes
    the retry write the file again (under the widened schema), and the
    first directory is removed."""
    t, load = _big_table(spark, tmp_path)
    ours = _events(spark, tmp_path, "ours", [(20_000, 0, "update", "r4", "p4.py", "ours")])
    rival = _events(spark, tmp_path, "rival", [(30_000, 1, "update", "r5", "p5.py", "rival")],
                    extra=rival_adds_column)
    dirs = _data_dirs(t)
    writes, links = [], []
    write, link = LakeTable._write_delta, LakeTable._link_delta

    def counted_write(self, *args):
        staged = write(self, *args)
        writes.append(staged.rel_dir)
        return staged

    def link_after_rival(self, base, staged, *args):
        links.append(staged.rel_dir)
        if len(links) == 1:
            apply_batch(t, rival, batch_id=2, write_mode="rewrite")
        return link(self, base, staged, *args)

    monkeypatch.setattr(LakeTable, "_write_delta", counted_write)
    monkeypatch.setattr(LakeTable, "_link_delta", link_after_rival)
    apply_batch(t, ours, batch_id=1)
    monkeypatch.undo()

    assert len(writes) == (2 if rival_adds_column else 1)
    assert links == [writes[0], writes[-1]]
    snap = t.snapshot()
    assert len(snap.deltas) == 1 and snap.deltas[0].startswith(writes[-1] + os.sep)
    assert ("extra" in snap.schema.names) == rival_adds_column
    new = _data_dirs(t) - dirs
    assert len(new) == 2 and new == _linked_dirs(t) - dirs  # the delta and the rival's rewrite
    assert applied_offsets(t) == {"0": 20_000, "1": 30_000}
    assert _state(t) == _oracle(load, ours, rival)


def test_lineage_records_write_decision(spark, tmp_path):
    """Each commit's lineage row names its write mode, key count, rewrite
    overlap and key-info source; the bulk shape has no key info."""
    log = generate_changelog(spark, 600, n_repos=10, paths_per_repo=8, seed=3)
    t = LakeTable.create(spark, str(tmp_path / "t"), PAYLOAD, key_cols=["repo", "path"],
                         n_buckets=4)
    part = lambda lo, hi: log.filter((F.col("offset") >= lo) & (F.col("offset") < hi))  # noqa: E731
    apply_batch(t, part(0, 400), batch_id=0, prune_buckets=False)
    apply_batch(t, part(400, 500), batch_id=1, write_mode="rewrite")
    apply_batch(t, part(500, 600), batch_id=2, write_mode="delta")
    bulk, rewrite, delta = t.snapshot().properties[LINEAGE_PROP]
    assert (bulk["mode"], bulk["key_info"], bulk["n_keys"], bulk["overlap_bytes"]) == (
        "rewrite", None, None, None)
    for row, mode, source, lo in ((rewrite, "rewrite", "scanned", 400),
                                  (delta, "delta", "observed", 500)):
        keys = part(lo, lo + 100).select("repo", "path").distinct().count()
        assert (row["mode"], row["key_info"], row["n_keys"]) == (mode, source, keys)
        assert row["overlap_bytes"] > 0
    assert _state(t) == _oracle(log)
