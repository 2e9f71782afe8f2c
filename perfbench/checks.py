"""Correctness checks computed apart from the engine.

Expected states come from two implementations that share no code with
the engine or with each other: a DuckDB window query over the generated
parquet (last-writer-wins by ``(offset, seq_in_tx)``), and a pure-Python
fold used for the states after each tail micro-batch. Near-dup results are
checked against the generator's own model of the corpus and numpy
cosines. Every check raises :class:`CheckFailed` with the first few
differences.
"""

from __future__ import annotations

import duckdb
import numpy as np

# key -> (offset, seq, op, commit, lang, content)
State = dict[tuple[str, str], tuple]


class CheckFailed(AssertionError):
    pass


def _fail(what: str, diffs: list) -> None:
    if diffs:
        raise CheckFailed(f"{what}: {len(diffs)} difference(s), first: {diffs[:3]}")


# ------------------------------------------------------------ row state
def lww_duckdb(paths: list[str], below_offset: int | None = None) -> State:
    """Last-writer-wins state of the changelog files, DuckDB-computed:
    per key the event with the largest ``(offset, seq_in_tx)``, tombstones
    included (``op == 'delete'``). ``below_offset`` keeps only events with
    a smaller offset, giving the state before that offset."""
    where = "" if below_offset is None else f"WHERE \"offset\" < {int(below_offset)}"
    sql = f"""
        SELECT repo, path, "offset", seq_in_tx, op,
               after."commit", after.lang, after.content
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY repo, path ORDER BY "offset" DESC, seq_in_tx DESC) AS rn
            FROM read_parquet(?) {where}
        ) WHERE rn = 1
    """
    con = duckdb.connect()
    try:
        rows = con.execute(sql, [list(paths)]).fetchall()
    finally:
        con.close()
    return {(r[0], r[1]): tuple(r[2:]) for r in rows}


def lww_fold(state: State, events) -> State:
    """Fold ``(repo, path, offset, seq, op, commit, lang, content)`` events
    into ``state`` in place: an event wins when its (offset, seq) is
    strictly greater than the key's current one (re-deliveries tie and
    lose)."""
    for repo, path, off, seq, op, commit, lang, content in events:
        key = (repo, path)
        cur = state.get(key)
        if cur is None or (off, seq) > (cur[0], cur[1]):
            state[key] = (off, seq, op, commit, lang, content)
    return state


def visible(state: State) -> dict[tuple[str, str], tuple]:
    """key -> (commit, lang, content, offset, seq) for non-deleted keys."""
    return {k: (v[3], v[4], v[5], v[0], v[1]) for k, v in state.items() if v[2] != "delete"}


def partition_max_offsets(paths: list[str]) -> dict[str, int]:
    con = duckdb.connect()
    try:
        rows = con.execute(
            'SELECT partition_id, max("offset") FROM read_parquet(?) GROUP BY 1', [list(paths)]
        ).fetchall()
    finally:
        con.close()
    return {str(p): int(m) for p, m in rows}


def table_rows(rows) -> dict[tuple[str, str], tuple]:
    """Collected table rows (repo, path, commit, lang, content, last_offset,
    last_seq) -> the shape :func:`visible` returns."""
    out = {}
    for r in rows:
        key = (r[0], r[1])
        if key in out:
            raise CheckFailed(f"key {key} appears twice in the table")
        out[key] = (r[2], r[3], r[4], int(r[5]), int(r[6]))
    return out


def check_state(what: str, got: dict, want: dict) -> None:
    diffs = []
    for k in sorted(set(got) | set(want)):
        if got.get(k) != want.get(k):
            diffs.append((k, got.get(k), want.get(k)))
    _fail(what, diffs)


def check_offsets(got: dict, want: dict[str, int]) -> None:
    got = {str(k): int(v) for k, v in got.items()}
    _fail("stream_offsets", [(p, got.get(p), want.get(p))
                             for p in sorted(set(got) | set(want)) if got.get(p) != want.get(p)])


def expected_changes(before: State, after: State) -> set[tuple]:
    """Rows a snapshot diff must return between two states:
    ``(op, repo, path, offset, seq, commit, lang, content)``. A key is
    inserted when it becomes visible, deleted when it stops being
    visible (offset of the tombstone, no payload), updated when it stays
    visible under a newer (offset, seq)."""
    out = set()
    for key, a in after.items():
        b = before.get(key)
        vb = b is not None and b[2] != "delete"
        va = a[2] != "delete"
        if va and not vb:
            op = "insert"
        elif vb and not va:
            op = "delete"
        elif va and (a[0], a[1]) > (b[0], b[1]):
            op = "update"
        else:
            continue
        payload = (None, None, None) if op == "delete" else (a[3], a[4], a[5])
        out.add((op, *key, a[0], a[1], *payload))
    return out


def check_changes(what: str, got_rows, want: set[tuple]) -> None:
    got = [tuple(r) for r in got_rows]
    if len(got) != len(set(got)):
        raise CheckFailed(f"{what}: duplicate change rows")
    got_s = set(got)
    _fail(f"{what} (missing)", sorted(want - got_s, key=str))
    _fail(f"{what} (unexpected)", sorted(got_s - want, key=str))


def check_key_reads(what: str, keys, got_rows, state: State) -> None:
    """``read_keys`` rows for ``keys`` against the folded state: exactly
    the visible keys, with their payload and offset; deleted keys absent."""
    want = {k: v for k, v in visible({k: state[k] for k in keys if k in state}).items()}
    check_state(what, table_rows(got_rows), want)


# ------------------------------------------------------------- near-dup
def check_probe(
    what: str,
    pairs: list[tuple[int, int]],
    probe_ids: set[int],
    alive: set[int],
    planted: dict[int, int],
    vecs: dict[int, np.ndarray] | None = None,
    threshold: float | None = None,
) -> None:
    """One probe's pairs against the corpus model: every pair touches a
    probed id, no pair touches a dead id, every live planted pair with a
    probed member is reported, and (vectors) every pair's numpy cosine
    clears the threshold."""
    got = {(min(a, b), max(a, b)) for a, b in pairs}
    _fail(f"{what}: pair without a probed id", [p for p in got if not (set(p) & probe_ids)])
    _fail(f"{what}: pair with a deleted id", [p for p in got if not set(p) <= alive])
    want = {
        (min(a, b), max(a, b))
        for a, b in planted.items()
        if a in probe_ids and a in alive and b in alive
    }
    _fail(f"{what}: planted pair not reported", sorted(want - got))
    if vecs is not None:
        low = []
        for a, b in got:
            va, vb = vecs[a], vecs[b]
            c = float(np.dot(va, vb) / (np.linalg.norm(va) * np.linalg.norm(vb)))
            if c < threshold - 1e-9:
                low.append((a, b, c))
        _fail(f"{what}: pair below the cosine threshold", low)
