"""Tests of the benchmark's own checks, inputs and span arithmetic.

    python3 -m pytest perfbench -q -p no:cacheprovider

The hand-written changelog covers delete-then-reinsert, duplicate
delivery, ``seq_in_tx`` ordering inside one transaction and a stale
re-delivery after a delete; the corrupted states must be rejected. The
last test corrupts a real lake table (a lost commit) and needs Spark.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from perfbench import checks, inputs, tracing

# (offset, partition, seq, op, repo, path, content) in delivery order
HAND = [
    (10, 0, 0, "insert", "r", "A", "a1"),
    (20, 1, 0, "delete", "r", "A", None),
    (30, 0, 0, "insert", "r", "A", "a3"),          # delete-then-reinsert
    (10, 0, 1, "insert", "r", "B", "b1"),
    (12, 1, 0, "update", "r", "B", "b2"),
    (12, 1, 0, "update", "r", "B", "b2"),          # duplicate delivery
    (15, 2, 1, "update", "r", "C", "c-late"),      # later seq, delivered first
    (15, 2, 0, "insert", "r", "C", "c-early"),
    (5, 3, 0, "insert", "r", "D", "d1"),
    (25, 3, 0, "delete", "r", "D", None),
    (5, 3, 0, "insert", "r", "D", "d1"),           # stale re-delivery after delete
    (7, 2, 0, "delete", "r", "E", None),           # delete of an unknown key
]


def hand_log(rows=HAND) -> inputs.Changelog:
    cols = list(zip(*rows))
    live = [c is not None for c in cols[6]]
    return inputs.Changelog(
        offset=np.array(cols[0], np.int64), partition_id=np.array(cols[1], np.int32),
        seq_in_tx=np.array(cols[2], np.int32), op=list(cols[3]), repo=list(cols[4]),
        path=list(cols[5]),
        commit=[f"h-{c}" if ok else None for c, ok in zip(cols[6], live)],
        lang=["py" if ok else None for ok in live], content=list(cols[6]),
    )


@pytest.fixture()
def hand_file(tmp_path):
    return hand_log().write(str(tmp_path / "hand.parquet"))


WANT = {
    ("r", "A"): ("h-a3", "py", "a3", 30, 0),
    ("r", "B"): ("h-b2", "py", "b2", 12, 0),
    ("r", "C"): ("h-c-late", "py", "c-late", 15, 1),
}


def test_lww_duckdb_and_fold_agree_on_hand_changelog(hand_file):
    db = checks.lww_duckdb([hand_file])
    fold = checks.lww_fold({}, hand_log().rows())
    assert checks.visible(db) == WANT
    assert checks.visible(fold) == WANT
    assert db == fold
    assert db[("r", "D")][2] == "delete" and db[("r", "E")][2] == "delete"


def test_partition_offsets(hand_file):
    assert checks.partition_max_offsets([hand_file]) == {"0": 30, "1": 20, "2": 15, "3": 25}
    checks.check_offsets({"0": 30, "1": 20, "2": 15, "3": 25},
                         checks.partition_max_offsets([hand_file]))
    with pytest.raises(checks.CheckFailed):
        checks.check_offsets({"0": 30, "1": 12, "2": 15, "3": 25},
                             checks.partition_max_offsets([hand_file]))


def table_of(state):
    return [(k[0], k[1], v[0], v[1], v[2], v[3], v[4]) for k, v in state.items()]


def test_check_state_accepts_the_right_table():
    checks.check_state("t", checks.table_rows(table_of(WANT)), WANT)


@pytest.mark.parametrize("corrupt", [
    lambda rows: rows + [("r", "D", "h-d1", "py", "d1", 5, 0)],           # resurrected
    lambda rows: [r if r[1] != "C" else ("r", "C", "h-c-early", "py", "c-early", 15, 0)
                  for r in rows],                                            # seq order lost
    lambda rows: [r for r in rows if r[1] != "B"],                           # lost key
    lambda rows: rows + [rows[0]],                                           # duplicated key
])
def test_check_state_rejects_corrupted_tables(corrupt):
    with pytest.raises(checks.CheckFailed):
        checks.check_state("t", checks.table_rows(corrupt(table_of(WANT))), WANT)


def test_expected_changes_per_commit(hand_file):
    before = checks.lww_duckdb([hand_file], below_offset=20)
    after = checks.lww_duckdb([hand_file])
    got = checks.expected_changes(before, after)
    assert got == {
        ("update", "r", "A", 30, 0, "h-a3", "py", "a3"),
        ("delete", "r", "D", 25, 0, None, None, None),
    }
    first = checks.expected_changes({}, before)
    assert {(op, key) for op, _, key, *_ in first} == {
        ("insert", "A"), ("insert", "B"), ("insert", "C"), ("insert", "D")}
    checks.check_changes("c", sorted(got), got)
    with pytest.raises(checks.CheckFailed):
        checks.check_changes("c", [r for r in got if r[0] != "delete"], got)
    with pytest.raises(checks.CheckFailed):
        checks.check_changes("c", [*got, ("insert", "r", "E", 7, 0, None, None, None)], got)


def test_key_reads_reject_a_deleted_key(hand_file):
    state = checks.lww_duckdb([hand_file])
    keys = [("r", "A"), ("r", "D")]
    good = [("r", "A", "h-a3", "py", "a3", 30, 0)]
    checks.check_key_reads("k", keys, good, state)
    with pytest.raises(checks.CheckFailed):
        checks.check_key_reads("k", keys, good + [("r", "D", "h-d1", "py", "d1", 5, 0)], state)


def test_check_probe():
    planted = {1: 2, 2: 1, 5: 6, 6: 5}
    alive = {1, 2, 3, 5, 6}
    vecs = {i: np.ones(4) + 0.001 * i for i in range(8)}
    vecs[3] = np.array([1.0, -1.0, 1.0, -1.0])
    checks.check_probe("p", [(2, 1)], {1}, alive, planted, vecs, 0.95)
    bad = [
        ([], {1}),                      # planted pair missing
        ([(1, 2), (5, 6)], {1}),        # pair without a probed id
        ([(1, 2), (1, 4)], {1}),        # pair with a deleted id
        ([(1, 2), (1, 3)], {1}),        # vector pair below the threshold
    ]
    for pairs, probed in bad:
        with pytest.raises(checks.CheckFailed):
            checks.check_probe("p", pairs, probed, alive, planted, vecs, 0.95)


def test_inputs_are_seeded_and_schema_shaped(tmp_path):
    keys = inputs.KeySpace(50, 20)
    a = inputs.make_changelog(inputs.rng_for(3, "x"), 2000, keys, 0)
    b = inputs.make_changelog(inputs.rng_for(3, "x"), 2000, keys, 0)
    c = inputs.make_changelog(inputs.rng_for(4, "x"), 2000, keys, 0)
    assert a.to_arrow().equals(b.to_arrow())
    assert not a.to_arrow().equals(c.to_arrow())
    assert a.to_arrow().schema == inputs.changelog_arrow_schema()
    assert 0.05 < a.op.count("delete") / len(a) < 0.15
    assert len(a) > 2000  # re-delivered duplicates on top
    counts = np.bincount([int(r[len("org0/repo"):]) for r in a.repo])
    assert counts[0] > 5 * np.median(counts)  # Zipf: repo 0 is hot


def test_planted_pairs_are_within_the_recall_limit():
    corpus = inputs.make_corpus(7, 200, 10)
    for x, y in corpus.pairs.items():
        assert inputs.minhash_miss_probability(
            inputs.jaccard(corpus.texts[x], corpus.texts[y])) < inputs.MISS_LIMIT
        assert inputs.hyperplane_miss_probability(
            inputs.cosine(corpus.vecs[x], corpus.vecs[y])) < inputs.MISS_LIMIT


def span(i, name, start, end, parent=None, light=False, jobs=()):
    s = tracing.Span(i, name, start, parent, "w", 0, light, end)
    s.jobs = [{"start": a, "end": b, "stages": 1, "tasks": 1, "shuffle_write_bytes": 0}
              for a, b in jobs]
    return s


def test_self_time_and_driver_gap():
    spans = [
        span(1, "op.commit", 0.0, 10.0),
        span(2, "cdc.apply.apply_batch", 1.0, 9.0, 1, jobs=[(1.5, 2.0)]),
        span(3, "lake.merge.merge_into", 2.0, 6.0, 2, jobs=[(3.0, 5.0)]),
        span(4, "lake.merge.merge_into", 5.0, 7.0, 2),
        span(5, "lake.table.snapshot", 7.0, 8.0, 2, light=True),
    ]
    tree = tracing.SpanTree(spans)
    assert tree.self_time(spans[1]) == pytest.approx(8.0 - 5.0)  # overlap counted once
    assert tree.self_time(spans[0]) == pytest.approx(2.0)
    assert len(tree.jobs(spans[0])) == 2
    assert tree.driver_gap(spans[0]) == pytest.approx(10.0 - 2.5)


@pytest.mark.slow
def test_lost_commit_fails_the_table_check(tmp_path):
    from binlog_es_go_spark.cdc import apply as cdc_apply
    from binlog_es_go_spark.cdc.events import CHANGELOG_SCHEMA
    from binlog_es_go_spark.session import build_session
    from perfbench import workloads

    path = hand_log().write(str(tmp_path / "hand.parquet"))
    spark = build_session("perfbench-tests", parallelism=2, shuffle_partitions=4)
    try:
        table = workloads.LakeTable.create(spark, str(tmp_path / "t"), workloads._table_schema(),
                                           workloads.KEY_COLS, n_buckets=4)
        log = spark.read.schema(CHANGELOG_SCHEMA).parquet(path)
        cdc_apply.replay_changelog(table, log, [20])

        def rows():
            return checks.table_rows(table.read().select(*workloads.ROW_COLS).collect())

        checks.check_state("table", rows(), WANT)
        with open(os.path.join(table.root, "VERSION"), "w") as f:
            f.write("1")  # roll back past the second commit
        with pytest.raises(checks.CheckFailed):
            checks.check_state("table", rows(), WANT)
    finally:
        spark.stop()
