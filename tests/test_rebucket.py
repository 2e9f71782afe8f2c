"""Bucket-count evolution (maintenance.rebucket): a table that outgrew
its creation-time bucket count moves to a new one in one atomic commit,
with every invariant the merge/lookup/diff machinery depends on intact.

No reference equivalent (ES reshards by reindex-to-new-index + alias
cutover, README.md's deployment story) — this is the lake-side analog
that avoids the full-copy + consumer-cutover dance.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from binlog_es_go_spark.cdc.apply import apply_batch
from binlog_es_go_spark.lake.maintenance import rebucket
from binlog_es_go_spark.lake.table import KHASH_COL, LakeTable

PAYLOAD = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("val", T.StringType())]
)
EVENTS = (
    "offset long, partition_id int, seq_in_tx int, op string, id long, "
    "before struct<val:string>, after struct<val:string>, ts timestamp"
)


def _events(spark, rows):
    return spark.createDataFrame(
        [(off, 0, 0, op, k, None, None if op == "delete" else (v,), None)
         for off, op, k, v in rows],
        EVENTS,
    )


def _state(table):
    return {r["id"]: r["val"] for r in table.read().collect()}


def _make(spark, tmp_path, n_buckets=4):
    t = LakeTable.create(spark, str(tmp_path / "t"), PAYLOAD, key_cols=["id"], n_buckets=n_buckets)
    apply_batch(t, _events(spark, [(k, "insert", k, f"v{k}") for k in range(200)]), batch_id=0)
    apply_batch(t, _events(spark, [(1000, "update", 7, "v7b"), (1001, "delete", 9, None)]),
                batch_id=1)
    return t


def test_rebucket_grow_preserves_state_and_layout(spark, tmp_path):
    t = _make(spark, tmp_path, n_buckets=4)
    before = _state(t)
    v = rebucket(t, 16, target_files_per_bucket=2)
    snap = t.snapshot()
    assert snap.version == v and snap.n_buckets == 16
    assert snap.properties["last_rebucket_from"] == 4
    assert _state(t) == before

    # every row's stored bucket matches khash % 16, and each manifest
    # file's khash range truly bounds its rows (file-COW contract)
    rows = t.read(include_deleted=True).select(
        F.pmod(F.col(KHASH_COL), F.lit(16)).cast("int").alias("want"),
    )
    # read() drops _bucket; verify via the manifest listing instead
    for b, files in snap.buckets.items():
        for rel in files:
            df = spark.read.parquet(f"{t.root}/{rel}")
            bad = df.filter(F.pmod(F.col(KHASH_COL), F.lit(16)).cast("int") != F.lit(b)).count()
            assert bad == 0, f"rows in {rel} not hashed to bucket {b}"
            lo, hi, _ = snap.file_stats[rel][KHASH_COL]
            mnmx = df.agg(F.min(KHASH_COL), F.max(KHASH_COL)).first()
            assert lo <= mnmx[0] and mnmx[1] <= hi
    assert rows.count() == 200  # includes the tombstone for id 9

    # tombstone survived the rewrite: a stale replayed insert stays dead
    apply_batch(t, _events(spark, [(500, "insert", 9, "stale")]), batch_id=2)
    assert 9 not in _state(t)

    # point lookups and incremental merges work under the new count
    assert {r["id"] for r in t.read_keys([(7,), (9,)]).collect()} == {7}
    apply_batch(t, _events(spark, [(2000, "update", 13, "v13b")]), batch_id=3)
    assert _state(t)[13] == "v13b"


def test_rebucket_shrink_and_pending_deltas_folded(spark, tmp_path):
    t = _make(spark, tmp_path, n_buckets=16)
    # pending merge-on-read delta commit before the rebucket
    apply_batch(t, _events(spark, [(3000, "update", 3, "v3b"), (3001, "delete", 5, None)]),
                batch_id=2, write_mode="delta")
    assert t.snapshot().deltas
    before = _state(t)
    assert before[3] == "v3b" and 5 not in before

    rebucket(t, 4)
    snap = t.snapshot()
    assert snap.n_buckets == 4 and not snap.deltas, "deltas folded + reclaimed"
    assert _state(t) == before
    assert set(snap.buckets) <= set(range(4))


def test_rebucket_noop_and_validation(spark, tmp_path):
    t = _make(spark, tmp_path, n_buckets=4)
    v0 = t.current_version()
    assert rebucket(t, 4) == v0, "same count is a no-op"
    with pytest.raises(ValueError):
        rebucket(t, 0)
    # write_buckets guards: a partial rewrite cannot change the count
    snap = t.snapshot()
    some_bucket = next(iter(snap.buckets))
    with pytest.raises(ValueError, match="every existing bucket"):
        t.write_buckets(
            t.with_bucket(t.read(include_deleted=True)).limit(0),
            replaced_buckets=[some_bucket],
            new_n_buckets=8,
        )


def test_cli_rebucket(spark, tmp_path):
    """Operational surface: --mode rebucket as a fresh spark-submit-able
    subprocess against an existing table."""
    import subprocess
    import sys
    from pathlib import Path

    t = _make(spark, tmp_path, n_buckets=4)
    before = _state(t)
    r = subprocess.run(
        [sys.executable, "scripts/run_pipeline.py", "--mode", "rebucket",
         "--target", t.root, "--key-cols", "id", "--new-n-buckets", "8",
         "--cores", "4"],
        capture_output=True, text=True, timeout=300,
        cwd=Path(__file__).resolve().parents[1],
    )
    assert r.returncode == 0 and "rebucketed 4 -> 8 buckets" in r.stdout, \
        r.stdout + r.stderr[-2000:]
    t2 = LakeTable.load(spark, t.root)
    assert t2.snapshot().n_buckets == 8 and _state(t2) == before
