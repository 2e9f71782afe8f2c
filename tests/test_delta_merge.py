"""Merge-on-read delta path: O(batch) tail writes with deferred guard.

The contract under test: for ANY interleaving of rewrite-merges, delta
appends, folds, and replays, `table.read()` equals the sequential oracle
(cdc/oracle.py) — i.e. delta-apply is state-indistinguishable from
rewrite-apply; only the physical cost moves (write-time file rewrites →
bounded read-time resolution, reclaimed by compact_deltas)."""

from __future__ import annotations

import hashlib
import zlib

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from binlog_es_go_spark.cdc.apply import apply_batch, applied_offsets
from binlog_es_go_spark.cdc.events import generate_changelog
from binlog_es_go_spark.cdc.oracle import apply_sequential, table_digest
from binlog_es_go_spark.lake import table as table_mod
from binlog_es_go_spark.lake.changes import snapshot_changes
from binlog_es_go_spark.lake.maintenance import compact, compact_deltas
from binlog_es_go_spark.lake.table import KEY_SEP, LakeTable

PAYLOAD = T.StructType(
    [T.StructField(n, T.StringType()) for n in ["repo", "path", "commit", "lang", "content"]]
)


def fresh(spark, tmp_path, name="t", n_buckets=8):
    return LakeTable.create(
        spark, str(tmp_path / name), PAYLOAD, key_cols=["repo", "path"], n_buckets=n_buckets
    )


@pytest.fixture(scope="module")
def log(spark):
    df = generate_changelog(spark, 3000, n_repos=25, paths_per_repo=12, seed=5)
    df.cache().count()
    return df


def _slice(log, lo, hi):
    return log.filter((F.col("offset") >= lo) & (F.col("offset") < hi))


def _digest(table):
    return table_digest(table.read().select("repo", "path", "content").toPandas())


def test_delta_appends_match_sequential_oracle(spark, tmp_path, log):
    t = fresh(spark, tmp_path)
    apply_batch(t, _slice(log, 0, 2000), batch_id=0)           # bulk → rewrite
    assert not t.snapshot().deltas, "bulk load must not delta-append"
    for i in range(4):                                          # tail → delta
        apply_batch(t, _slice(log, 2000 + i * 250, 2250 + i * 250),
                    batch_id=1 + i, write_mode="delta")
    snap = t.snapshot()
    assert len(snap.deltas) == 4
    # every delta file knows which buckets it touches (diff scoping)
    assert all(rel in snap.delta_buckets for rel in snap.deltas)

    oracle = apply_sequential(log.toPandas())
    got = t.read().select("repo", "path", "content").toPandas()
    assert len(got) == len(oracle)
    assert table_digest(got) == table_digest(oracle[["repo", "path", "content"]])
    # offsets recorded atomically with the delta commit
    assert applied_offsets(t)


def test_delta_replay_is_noop_and_fold_preserves_state(spark, tmp_path, log):
    t = fresh(spark, tmp_path)
    apply_batch(t, _slice(log, 0, 2500), batch_id=0)
    apply_batch(t, _slice(log, 2500, 3000), batch_id=1, write_mode="delta")
    d1 = _digest(t)
    # duplicate delivery of the SAME batch as another delta commit
    apply_batch(t, _slice(log, 2500, 3000), batch_id=2, write_mode="delta")
    assert _digest(t) == d1
    # stale partial replay (subset of already-applied offsets)
    apply_batch(t, _slice(log, 2600, 2800), batch_id=3, write_mode="delta")
    assert _digest(t) == d1
    v = compact_deltas(t)
    assert v is not None and not t.snapshot().deltas
    assert _digest(t) == d1
    # fold is idempotent / empty-safe
    assert compact_deltas(t) is None


def test_delta_tombstone_shadows_base_row(spark, tmp_path):
    t = fresh(spark, tmp_path, n_buckets=4)
    schema = (
        "offset long, partition_id int, seq_in_tx int, op string, repo string, path string, "
        "before struct<commit:string,lang:string,content:string>, "
        "after struct<commit:string,lang:string,content:string>, ts timestamp"
    )

    def ev(offset, op, repo, path, content):
        after = None if op == "delete" else ("c" * 40, "py", content)
        return (offset, 0, 0, op, repo, path, None, after, None)

    apply_batch(t, spark.createDataFrame(
        [ev(1, "insert", "r1", "a.py", "v1"), ev(2, "insert", "r2", "b.py", "w1")], schema
    ), batch_id=0)
    # delete via delta: tombstone must hide the base row immediately
    apply_batch(t, spark.createDataFrame([ev(10, "delete", "r1", "a.py", None)], schema),
                batch_id=1, write_mode="delta")
    state = {(r["repo"], r["path"]) for r in t.read().collect()}
    assert state == {("r2", "b.py")}
    # point lookup agrees (delta-aware khash pruning path)
    assert t.read_keys([("r1", "a.py")]).count() == 0
    assert t.read_keys([("r2", "b.py")]).collect()[0]["content"] == "w1"
    # a STALE insert replayed after the delete must stay dead, through the
    # fold and after it
    apply_batch(t, spark.createDataFrame([ev(1, "insert", "r1", "a.py", "v1")], schema),
                batch_id=2, write_mode="delta")
    assert t.read_keys([("r1", "a.py")]).count() == 0
    compact_deltas(t)
    assert t.read_keys([("r1", "a.py")]).count() == 0


def test_rewrite_merge_sees_pending_delta_guard(spark, tmp_path, log):
    """A bulk rewrite arriving while deltas are pending must not let a
    STALE source row beat a NEWER delta-held offset."""
    t = fresh(spark, tmp_path)
    apply_batch(t, _slice(log, 0, 2900), batch_id=0)
    newer = _slice(log, 2900, 3000).withColumn("offset", F.col("offset") + 1000)
    newer.cache().count()
    apply_batch(t, newer, batch_id=1, write_mode="delta")
    big = log.withColumn("offset", F.col("offset") + 500)  # overlaps, partly stale
    big.cache().count()
    apply_batch(t, big, batch_id=2, prune_buckets=False)   # bulk rewrite
    full = pd.concat([_slice(log, 0, 2900).toPandas(), newer.toPandas(), big.toPandas()])
    oracle = apply_sequential(full)
    got = t.read().select("repo", "path", "content").toPandas()
    assert len(got) == len(oracle)
    assert table_digest(got) == table_digest(oracle[["repo", "path", "content"]])


def test_snapshot_diff_across_delta_commits(spark, tmp_path, log):
    """Diffs spanning delta commits fall back to bucket-granular resolved
    reads and stay EXACT; applying the diff to a replica converges it."""
    t = fresh(spark, tmp_path)
    apply_batch(t, _slice(log, 0, 2000), batch_id=0)
    v1 = t.current_version()
    apply_batch(t, _slice(log, 2000, 2500), batch_id=1, write_mode="delta")
    apply_batch(t, _slice(log, 2500, 3000), batch_id=2, write_mode="delta")
    v3 = t.current_version()

    ch = snapshot_changes(t, v1, v3)
    # replaying the diff onto a copy of v1 yields the v3 state
    replica = fresh(spark, tmp_path, "replica")
    apply_batch(replica, _slice(log, 0, 2000), batch_id=0)
    from binlog_es_go_spark.lake.changes import replicate_changes

    replicate_changes(t, replica, from_version=v1, to_version=v3)
    assert _digest(replica) == _digest(t)
    # and a diff across the FOLD (deltas dropped, base rewritten) is empty
    # of spurious rows: fold changes files, not state
    v_before_fold = t.current_version()
    compact_deltas(t)
    assert snapshot_changes(t, v_before_fold, t.current_version()).count() == 0
    assert ch.count() > 0


def test_full_compaction_reclaims_deltas(spark, tmp_path, log):
    t = fresh(spark, tmp_path)
    apply_batch(t, _slice(log, 0, 2500), batch_id=0)
    apply_batch(t, _slice(log, 2500, 3000), batch_id=1, write_mode="delta")
    d = _digest(t)
    compact(t, target_files_per_bucket=1)
    assert not t.snapshot().deltas, "full compaction folds and drops deltas"
    assert _digest(t) == d


def test_auto_mode_picks_delta_only_when_rewrite_dwarfs_batch(spark, tmp_path, log):
    """auto: bulk loads and cheap rewrites stay copy-on-write; a small
    batch against a table whose overlap would rewrite >=32x the batch (and
    >=8 MB) delta-appends. Threshold knobs are exposed for tests."""
    t = fresh(spark, tmp_path)
    apply_batch(t, log, batch_id=0)          # bulk: rewrite
    assert not t.snapshot().deltas
    small = _slice(log, 0, 50).withColumn("offset", F.col("offset") + 10_000)
    # tiny table -> overlap bytes below the floor -> still rewrite
    apply_batch(t, small, batch_id=1)
    assert not t.snapshot().deltas
    # force the economics: drop the floor so the same batch delta-appends
    import binlog_es_go_spark.cdc.apply as apply_mod

    old = apply_mod.DELTA_MIN_REWRITE_BYTES, apply_mod.DELTA_MIN_AMPLIFICATION
    apply_mod.DELTA_MIN_REWRITE_BYTES = 0
    apply_mod.DELTA_MIN_AMPLIFICATION = 0
    try:
        small2 = _slice(log, 0, 50).withColumn("offset", F.col("offset") + 20_000)
        apply_batch(t, small2, batch_id=2)
        assert len(t.snapshot().deltas) == 1
    finally:
        apply_mod.DELTA_MIN_REWRITE_BYTES, apply_mod.DELTA_MIN_AMPLIFICATION = old


def test_delta_fold_after_threshold_bounds_debt(spark, tmp_path, log):
    t = fresh(spark, tmp_path)
    apply_batch(t, _slice(log, 0, 2000), batch_id=0)
    for i in range(3):
        apply_batch(t, _slice(log, 2000 + i * 100, 2100 + i * 100),
                    batch_id=1 + i, write_mode="delta", delta_fold_after=2)
    # 3rd delta apply first folded the 2 pending commits, then appended
    assert len(t.snapshot().deltas) == 1
    oracle = apply_sequential(_slice(log, 0, 2300).toPandas())
    got = t.read().select("repo", "path", "content").toPandas()
    assert table_digest(got) == table_digest(oracle[["repo", "path", "content"]])


# ------------------------------------------------ point lookups, key maps
EVENT_SCHEMA = (
    "offset long, partition_id int, seq_in_tx int, op string, repo string, path string, "
    "before struct<commit:string,lang:string,content:string>, "
    "after struct<commit:string,lang:string,content:string>, ts timestamp"
)


def _ev(offset, op, repo, path, content):
    after = None if op == "delete" else ("c" * 40, "py", content)
    return (offset, 0, 0, op, repo, path, None, after, None)


def _khash(key):
    return zlib.crc32(KEY_SEP.join(key).encode("utf-8"))


def _oracle_rows(events):
    pdf = pd.DataFrame(events, columns=[
        "offset", "partition_id", "seq_in_tx", "op", "repo", "path", "before", "after", "ts"])
    pdf["after"] = [
        None if a is None else {"commit": a[0], "lang": a[1], "content": a[2]} for a in pdf["after"]
    ]
    state = apply_sequential(pdf)
    return {(r.repo, r.path): r.content for r in state.itertuples(index=False)}


def _lookup(table, keys):
    return {(r["repo"], r["path"]): r["content"] for r in table.read_keys(keys).collect()}


def _check_key_map(snap):
    """Manifest bound: every delta_khashes entry names a listed delta and
    holds a sorted set of at most KEY_PRUNE_CAP hashes."""
    assert set(snap.delta_khashes) <= set(snap.deltas)
    for hashes in snap.delta_khashes.values():
        assert len(hashes) <= table_mod.KEY_PRUNE_CAP
        assert hashes == sorted(set(hashes))


def test_read_pins_one_snapshot_across_a_fold(spark, tmp_path, log, monkeypatch):
    """A fold committing between the base-file listing and the delta
    listing of one read must not mix snapshots: the read returns the state
    of the version it started on, folded updates included."""
    t = fresh(spark, tmp_path)
    apply_batch(t, _slice(log, 0, 2500), batch_id=0)
    apply_batch(t, _slice(log, 2500, 3000), batch_id=1, write_mode="delta")
    v = t.current_version()
    want = _digest(t)

    orig = LakeTable.files_for
    folded = []

    def files_then_fold(self, *args, **kwargs):
        out = orig(self, *args, **kwargs)
        if not folded:
            folded.append(None)
            folded[0] = compact_deltas(self)
        return out

    monkeypatch.setattr(LakeTable, "files_for", files_then_fold)
    got = _digest(t)
    monkeypatch.undo()
    assert folded[0] is not None and t.current_version() > v and not t.snapshot().deltas
    assert got == want


def test_read_keys_with_crc32_collision(spark, tmp_path):
    """Two keys with one crc32: one in base, one in a pending delta, at
    different versions. Each lookup returns exactly its own latest row,
    and a rewrite commit of one key leaves the other at the oracle state."""
    # Birthday search over pseudo-random repo names (a pair turns up within
    # ~10^5). Names differing only in a few digit bytes would not do: crc32
    # maps equal-length strings that differ within 32 bits to distinct values.
    seen: dict[int, tuple] = {}
    for i in range(1_000_000):
        b = (hashlib.sha1(str(i).encode()).hexdigest()[:12], "x.py")
        a = seen.setdefault(_khash(b), b)
        if a != b:
            break
    else:
        pytest.fail("no crc32 collision found")
    assert _khash(a) == _khash(b)

    t = fresh(spark, tmp_path, n_buckets=4)
    events = [_ev(1, "insert", *a, "a1"), _ev(2, "insert", "other", "o.py", "o1")]
    apply_batch(t, spark.createDataFrame(events, EVENT_SCHEMA), batch_id=0)
    batch = [_ev(5, "insert", *b, "b1")]
    events += batch
    apply_batch(t, spark.createDataFrame(batch, EVENT_SCHEMA), batch_id=1, write_mode="delta")
    assert t.snapshot().deltas
    assert _lookup(t, [a]) == {a: "a1"}
    assert _lookup(t, [b]) == {b: "b1"}
    assert _lookup(t, [a, b]) == {a: "a1", b: "b1"}

    batch = [_ev(9, "update", *a, "a2")]
    events += batch
    apply_batch(t, spark.createDataFrame(batch, EVENT_SCHEMA), batch_id=2, write_mode="rewrite")
    oracle = _oracle_rows(events)
    assert _lookup(t, [b]) == {b: oracle[b]}
    assert _lookup(t, [a]) == {a: oracle[a]} == {a: "a2"}
    got = {(r["repo"], r["path"]): r["content"] for r in t.read().collect()}
    assert got == oracle


def test_delta_key_map_tracks_delta_listing(spark, tmp_path, log):
    """delta_khashes keys stay a subset of the listed deltas through
    appends, the fold's drop, full compaction and rebucketing."""
    from binlog_es_go_spark.lake.maintenance import rebucket

    t = fresh(spark, tmp_path)
    apply_batch(t, _slice(log, 0, 2000), batch_id=0)
    _check_key_map(t.snapshot())
    for i in range(2):
        apply_batch(t, _slice(log, 2000 + i * 100, 2100 + i * 100),
                    batch_id=1 + i, write_mode="delta")
        snap = t.snapshot()
        _check_key_map(snap)
        assert set(snap.delta_khashes) == set(snap.deltas)
    compact_deltas(t)
    snap = t.snapshot()
    _check_key_map(snap)
    assert not snap.deltas and not snap.delta_khashes

    apply_batch(t, _slice(log, 2200, 2300), batch_id=3, write_mode="delta")
    _check_key_map(t.snapshot())
    compact(t)
    snap = t.snapshot()
    _check_key_map(snap)
    assert not snap.delta_khashes

    apply_batch(t, _slice(log, 2300, 2400), batch_id=4, write_mode="delta")
    assert t.snapshot().delta_khashes
    rebucket(t, 4)
    snap = t.snapshot()
    _check_key_map(snap)
    assert snap.n_buckets == 4 and not snap.delta_khashes
    oracle = apply_sequential(_slice(log, 0, 2400).toPandas())
    assert _digest(t) == table_digest(oracle[["repo", "path", "content"]])


def test_delta_over_key_cap_gets_no_entry(spark, tmp_path, log, monkeypatch):
    """A delta with more hashes than KEY_PRUNE_CAP is recorded without a
    key set and pruned by its range; lookups through it stay exact."""
    monkeypatch.setattr(table_mod, "KEY_PRUNE_CAP", 20)
    t = fresh(spark, tmp_path)
    apply_batch(t, _slice(log, 0, 2000), batch_id=0)
    apply_batch(t, _slice(log, 2000, 2400), batch_id=1, write_mode="delta")  # > 20 keys
    big = t.snapshot().deltas[0]
    small_batch = [_ev(10_000, "update", "solo", "s.py", "s1")]
    apply_batch(t, spark.createDataFrame(small_batch, EVENT_SCHEMA), batch_id=2,
                write_mode="delta")
    snap = t.snapshot()
    _check_key_map(snap)
    assert big not in snap.delta_khashes
    assert list(snap.delta_khashes) == [snap.deltas[1]]

    rows = _slice(log, 2000, 2400).select("repo", "path").distinct().collect()
    keys = [(r["repo"], r["path"]) for r in rows[:15]]
    oracle = apply_sequential(_slice(log, 0, 2400).toPandas())
    want = {(r.repo, r.path): r.content for r in oracle.itertuples(index=False)}
    assert _lookup(t, keys) == {k: want[k] for k in keys if k in want}
    assert _lookup(t, [("solo", "s.py")]) == {("solo", "s.py"): "s1"}


def test_manifest_without_key_map_still_reads(spark, tmp_path, log):
    """A manifest written before delta_khashes existed loads and looks up
    the same rows (every delta falls back to its range)."""
    import json

    t = fresh(spark, tmp_path)
    apply_batch(t, _slice(log, 0, 2500), batch_id=0)
    apply_batch(t, _slice(log, 2500, 2700), batch_id=1, write_mode="delta")
    snap = t.snapshot()
    assert snap.delta_khashes
    rows = _slice(log, 2500, 2700).select("repo", "path").distinct().collect()
    keys = [(r["repo"], r["path"]) for r in rows[:10]] + [("no", "such.py")]
    before = _lookup(t, keys)
    assert before

    path = tmp_path / "t" / f"manifest-{snap.version}.json"
    m = json.loads(path.read_text())
    del m["delta_khashes"]
    path.write_text(json.dumps(m))
    assert t.snapshot().delta_khashes == {}
    assert _lookup(t, keys) == before
    oracle = apply_sequential(_slice(log, 0, 2700).toPandas())
    assert _digest(t) == table_digest(oracle[["repo", "path", "content"]])


def test_rewrite_reads_only_deltas_meeting_the_batch(spark, tmp_path, monkeypatch):
    """A rewrite commit while deltas are pending in buckets its batch
    misses reads only the deltas that hold a batch key; the state still
    equals the sequential oracle."""
    n = 4
    by_bucket: dict[int, list[tuple]] = {}
    for i in range(200):
        key = (f"r{i}", "f.py")
        by_bucket.setdefault(_khash(key) % n, []).append(key)
    t = fresh(spark, tmp_path, n_buckets=n)
    events = [_ev(o, "insert", *k, "v0") for o, k in enumerate(
        k for b in range(n) for k in by_bucket[b][:8])]
    apply_batch(t, spark.createDataFrame(events, EVENT_SCHEMA), batch_id=0)
    offset = 1000
    for b in range(3):  # one delta per bucket 0..2
        batch = [_ev(offset + j, "update", *k, f"d{b}") for j, k in enumerate(by_bucket[b][:4])]
        offset += 100
        events += batch
        apply_batch(t, spark.createDataFrame(batch, EVENT_SCHEMA), batch_id=1 + b,
                    write_mode="delta")
    snap = t.snapshot()
    assert len(snap.deltas) == 3 and set(snap.delta_khashes) == set(snap.deltas)

    reads = []
    orig = LakeTable.delta_rows

    def spy(self, *args, **kwargs):
        reads.append(kwargs.get("delta_files"))
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(LakeTable, "delta_rows", spy)
    # bucket 0 keys (one held by delta 0) plus a fresh bucket-3 key
    batch = [_ev(offset, "update", *by_bucket[0][1], "w"),
             _ev(offset + 1, "insert", *by_bucket[3][9], "w")]
    events += batch
    apply_batch(t, spark.createDataFrame(batch, EVENT_SCHEMA), batch_id=9, write_mode="rewrite")
    monkeypatch.undo()
    assert reads == [[snap.deltas[0]]]

    oracle = _oracle_rows(events)
    got = {(r["repo"], r["path"]): r["content"] for r in t.read().collect()}
    assert got == oracle
    keys = [by_bucket[b][j] for b in range(n) for j in (0, 1, 9)]
    assert _lookup(t, keys) == {k: oracle[k] for k in keys if k in oracle}


def test_rewrite_folds_only_batch_keys_of_a_delta(spark, tmp_path):
    """A rewrite commit folds only the batch's keys out of a pending
    delta: a delta updating K and J, then a rewrite of J alone, leaves K's
    base row in its carried file and K's update pending in the delta — a
    raw base scan holds K once (not also as a folded copy in J's
    rewritten file), and reads still see K's update."""
    t = fresh(spark, tmp_path, n_buckets=1)
    keys = [(f"r{i}", "f.py") for i in range(40)]
    quarter = 1 << 30
    k = next(key for key in keys if _khash(key) < quarter)
    j = next(key for key in keys if _khash(key) >= 3 * quarter)
    events = [_ev(o, "insert", *key, "v0") for o, key in enumerate(keys)]
    apply_batch(t, spark.createDataFrame(events, EVENT_SCHEMA), batch_id=0)
    compact(t, target_files_per_bucket=4)
    assert len(t.snapshot().buckets[0]) == 4

    batch = [_ev(100, "update", *k, "k1"), _ev(101, "update", *j, "j1")]
    events += batch
    apply_batch(t, spark.createDataFrame(batch, EVENT_SCHEMA), batch_id=1, write_mode="delta")
    batch = [_ev(200, "update", *j, "j2")]
    events += batch
    res = apply_batch(t, spark.createDataFrame(batch, EVENT_SCHEMA), batch_id=2,
                      write_mode="rewrite")
    assert res.rewritten_files == 1 and res.carried_files == 3

    snap = t.snapshot()
    base = t.read(files=snap.buckets[0], include_deleted=True, resolve_deltas=False)
    rows = base.filter((F.col("repo") == k[0]) & (F.col("path") == k[1])).collect()
    assert [r["content"] for r in rows] == ["v0"]
    oracle = _oracle_rows(events)
    assert _lookup(t, [k, j]) == {k: "k1", j: "j2"} == {x: oracle[x] for x in (k, j)}
    got = {(r["repo"], r["path"]): r["content"] for r in t.read().collect()}
    assert got == oracle


# Key values that SQL text could mis-read: quotes, backslashes, a newline,
# LIKE wildcards, non-ASCII text, an empty component.
ODD_KEYS = [
    ("it's", "a.py"),
    ("back\\slash", "b\\.py"),
    ("new\nline", "c.py"),
    ("100%", "d_%.py"),
    ("ünïcødé ✓", "日本語.py"),
    ("", "empty.py"),
    ("x", ""),
    ("a'); DROP TABLE t; --", "e.py"),
]


def _rows_of(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def _read_filtered(table, keys, key_cols, cols):
    """``read()`` filtered to ``keys`` in Python: what read_keys must return."""
    want = {tuple(k) for k in keys}
    return sorted(
        tuple(r[c] for c in cols)
        for r in table.read().collect()
        if tuple(r[c] for c in key_cols) in want
    )


def test_read_keys_takes_any_key_value(spark, tmp_path):
    """Keys holding SQL metacharacters, and integer keys, return exactly
    the rows of read() filtered to them, with and without pending deltas."""
    cols = ["repo", "path", "content", "last_offset"]
    t = fresh(spark, tmp_path, n_buckets=4)
    others = [(f"r{i}", "f.py") for i in range(20)]
    events = [_ev(o, "insert", *k, f"v{o}") for o, k in enumerate(ODD_KEYS + others)]
    apply_batch(t, spark.createDataFrame(events, EVENT_SCHEMA), batch_id=0)
    lookup = ODD_KEYS + others[:2]
    want = _read_filtered(t, lookup, ["repo", "path"], cols)
    assert len(want) == len(lookup)
    assert _rows_of(t.read_keys(lookup), cols) == want

    batch = [_ev(100 + i, "update", *k, f"d{i}") for i, k in enumerate(ODD_KEYS[::2])]
    batch.append(_ev(200, "delete", *ODD_KEYS[1], None))
    apply_batch(t, spark.createDataFrame(batch, EVENT_SCHEMA), batch_id=1, write_mode="delta")
    assert t.snapshot().deltas
    want = _read_filtered(t, lookup, ["repo", "path"], cols)
    assert len(want) == len(lookup) - 1
    assert _rows_of(t.read_keys(lookup), cols) == want
    for k in ODD_KEYS[:3]:
        assert _rows_of(t.read_keys([k]), cols) == _read_filtered(t, [k], ["repo", "path"], cols)

    # integer keys, as a rebucketed id table has them
    payload = T.StructType([T.StructField("id", T.LongType()), T.StructField("val", T.StringType())])
    events_schema = ("offset long, partition_id int, seq_in_tx int, op string, id long, "
                     "before struct<val:string>, after struct<val:string>, ts timestamp")
    ids = LakeTable.create(spark, str(tmp_path / "ids"), payload, key_cols=["id"], n_buckets=4)

    def id_events(rows):
        return spark.createDataFrame(
            [(o, 0, 0, op, k, None, None if op == "delete" else (v,), None) for o, op, k, v in rows],
            events_schema,
        )

    id_keys = [-3, 0, 7, 2**40]
    apply_batch(ids, id_events([(o, "insert", k, f"v{k}") for o, k in enumerate(id_keys + [1, 2])]),
                batch_id=0)
    icols = ["id", "val", "last_offset"]
    lookup = [(k,) for k in id_keys] + [(99,)]
    assert _rows_of(ids.read_keys(lookup), icols) == _read_filtered(ids, lookup, ["id"], icols)
    apply_batch(ids, id_events([(50, "update", 7, "w7"), (51, "delete", -3, None)]), batch_id=1,
                write_mode="delta")
    assert ids.snapshot().deltas
    got = _rows_of(ids.read_keys(lookup), icols)
    assert got == _read_filtered(ids, lookup, ["id"], icols)
    assert [r[:2] for r in got] == [(0, "v0"), (7, "w7"), (2**40, f"v{2**40}")]


def test_read_keys_full_tie_goes_to_base(spark, tmp_path):
    """A base row and a delta row with the same (offset, seq) but different
    payloads: the base row wins, in a lookup as in a full read — the rows'
    base/delta tag decides, so an inverted tag fails here."""
    t = fresh(spark, tmp_path, n_buckets=4)
    k = ("r1", "a.py")
    apply_batch(t, spark.createDataFrame([_ev(5, "insert", *k, "base")], EVENT_SCHEMA),
                batch_id=0)
    apply_batch(t, spark.createDataFrame([_ev(5, "insert", *k, "delta")], EVENT_SCHEMA),
                batch_id=1, write_mode="delta")
    snap = t.snapshot()
    assert len(snap.deltas) == 1 and snap.buckets
    raw = t.read(files=snap.deltas, include_deleted=True, resolve_deltas=False).collect()
    assert [(r["content"], r["last_offset"], r["last_seq"]) for r in raw] == [("delta", 5, 0)]
    assert _lookup(t, [k]) == {k: "base"}
    assert {(r["repo"], r["path"]): r["content"] for r in t.read().collect()} == {k: "base"}


def test_read_keys_scan_set_shapes(spark, tmp_path, monkeypatch):
    """Each shape of a lookup's scan set: a key held only by a delta scans
    no base file; a key no pending delta holds scans no delta and needs no
    window; a delta tombstone hides the row unless ``include_deleted``;
    no keys scan nothing."""
    n = 4
    by_bucket: dict[int, list[tuple]] = {}
    for i in range(200):
        key = (f"r{i}", "f.py")
        by_bucket.setdefault(_khash(key) % n, []).append(key)
    t = fresh(spark, tmp_path, n_buckets=n)
    events = [_ev(o, "insert", *k, "v0") for o, k in enumerate(
        k for b in range(n - 1) for k in by_bucket[b][:6])]
    apply_batch(t, spark.createDataFrame(events, EVENT_SCHEMA), batch_id=0)
    assert n - 1 not in t.snapshot().buckets
    only_delta, tombstoned, untouched = by_bucket[n - 1][0], by_bucket[0][0], by_bucket[1][0]
    batch = [_ev(100, "insert", *only_delta, "d1"), _ev(101, "delete", *tombstoned, None)]
    apply_batch(t, spark.createDataFrame(batch, EVENT_SCHEMA), batch_id=1, write_mode="delta")
    snap = t.snapshot()
    assert len(snap.deltas) == 1 and set(snap.delta_khashes) == set(snap.deltas)

    scans = []
    orig = LakeTable.read

    def spy(self, *args, **kwargs):
        scans.append(kwargs.get("files"))
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(LakeTable, "read", spy)
    assert _lookup(t, [only_delta]) == {only_delta: "d1"}
    assert scans.pop() == snap.deltas

    df = t.read_keys([untouched])
    assert scans.pop() == snap.buckets[1]
    assert "Window" not in df._jdf.queryExecution().executedPlan().toString()
    assert [r["content"] for r in df.collect()] == ["v0"]

    assert _lookup(t, [tombstoned]) == {}
    rows = t.read_keys([tombstoned], include_deleted=True).collect()
    assert [(r["last_offset"], r["last_op"], r["_deleted"]) for r in rows] == [(101, "delete", True)]

    for include_deleted in (False, True):
        df = t.read_keys([], include_deleted=include_deleted)
        assert scans.pop() == []
        assert df.columns == orig(t).columns and df.count() == 0
