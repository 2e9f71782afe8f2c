"""Seeded benchmark inputs, generated with numpy and written with pyarrow.

No Spark job and no engine generator is involved: the engine only ever
sees the parquet files written here, so a change to the engine's own
fixture generator cannot change what the benchmark measures.

Row changelogs use the engine's ``cdc.events.CHANGELOG_SCHEMA`` (converted
to an Arrow schema field by field). Document and vector changelogs for the
near-dup indexes carry the same event columns (offset, partition_id,
seq_in_tx, op, ts) plus an id and an ``after`` struct.
"""

from __future__ import annotations

import datetime as dt
import math
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["py", "go", "rs", "md", "js", "c", "java", "rb"]
EPOCH = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
N_PARTITIONS = 8
VOCAB = 20_000


def _arrow_type(t):
    from pyspark.sql import types as T

    if isinstance(t, T.LongType):
        return pa.int64()
    if isinstance(t, T.IntegerType):
        return pa.int32()
    if isinstance(t, T.StringType):
        return pa.string()
    if isinstance(t, T.TimestampType):
        return pa.timestamp("us", tz="UTC")
    if isinstance(t, T.StructType):
        return pa.struct([pa.field(f.name, _arrow_type(f.dataType), f.nullable) for f in t.fields])
    raise TypeError(f"no arrow mapping for {t!r}")


def arrow_schema(spark_schema) -> pa.Schema:
    return pa.schema(
        [pa.field(f.name, _arrow_type(f.dataType), f.nullable) for f in spark_schema.fields]
    )


def changelog_arrow_schema() -> pa.Schema:
    from binlog_es_go_spark.cdc.events import CHANGELOG_SCHEMA

    return arrow_schema(CHANGELOG_SCHEMA)


def _ts_array(offset: np.ndarray) -> pa.Array:
    """Event time: the epoch plus 10 ms per offset."""
    epoch_us = int(EPOCH.timestamp() * 1_000_000)
    return pa.array(epoch_us + 10_000 * np.asarray(offset, np.int64), pa.timestamp("us", tz="UTC"))


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent, reproducible stream per (seed, purpose)."""
    return np.random.default_rng([seed, *stream.encode()])


# --------------------------------------------------------------- row changelog
@dataclass
class Changelog:
    """Column arrays of one row changelog (one entry per delivered event)."""

    offset: np.ndarray
    partition_id: np.ndarray
    seq_in_tx: np.ndarray
    op: list[str]
    repo: list[str]
    path: list[str]
    commit: list[str | None]
    lang: list[str | None]
    content: list[str | None]

    def __len__(self) -> int:
        return len(self.offset)

    def take(self, idx) -> "Changelog":
        idx = np.asarray(idx, dtype=np.int64)
        pick = lambda xs: [xs[i] for i in idx]  # noqa: E731
        return Changelog(
            self.offset[idx], self.partition_id[idx], self.seq_in_tx[idx],
            pick(self.op), pick(self.repo), pick(self.path),
            pick(self.commit), pick(self.lang), pick(self.content),
        )

    @staticmethod
    def concat(*logs: "Changelog") -> "Changelog":
        return Changelog(
            np.concatenate([x.offset for x in logs]),
            np.concatenate([x.partition_id for x in logs]),
            np.concatenate([x.seq_in_tx for x in logs]),
            *([v for x in logs for v in getattr(x, f)]
              for f in ("op", "repo", "path", "commit", "lang", "content")),
        )

    def rows(self):
        """(repo, path, offset, seq_in_tx, op, commit, lang, content) tuples."""
        return zip(
            self.repo, self.path, self.offset.tolist(), self.seq_in_tx.tolist(),
            self.op, self.commit, self.lang, self.content,
        )

    def to_arrow(self) -> pa.Table:
        schema = changelog_arrow_schema()
        after_t = schema.field("after").type
        deleted = np.array([op == "delete" for op in self.op], dtype=bool)
        after = pa.StructArray.from_arrays(
            [pa.array(getattr(self, f.name), f.type) for f in after_t],
            fields=list(after_t),
            mask=pa.array(deleted),
        )
        cols = {
            "offset": pa.array(self.offset, pa.int64()),
            "partition_id": pa.array(self.partition_id, pa.int32()),
            "seq_in_tx": pa.array(self.seq_in_tx, pa.int32()),
            "op": pa.array(self.op, pa.string()),
            "repo": pa.array(self.repo, pa.string()),
            "path": pa.array(self.path, pa.string()),
            "before": pa.nulls(len(self), schema.field("before").type),
            "after": after,
            "ts": _ts_array(self.offset),
        }
        return pa.table([cols[f.name] for f in schema], schema=schema)

    def write(self, path: str) -> str:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(self.to_arrow(), path)
        return path


@dataclass
class KeySpace:
    """Zipf-skewed repos x uniform paths: hot repos, as real forges have."""

    n_repos: int
    paths_per_repo: int
    zipf_s: float = 1.1

    def draw(self, rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
        w = 1.0 / np.arange(1, self.n_repos + 1) ** self.zipf_s
        repo = rng.choice(self.n_repos, size=n, p=w / w.sum())
        path = rng.integers(0, self.paths_per_repo, size=n)
        return repo, path


def _repo_name(r: int) -> str:
    return f"org{r % 10}/repo{r}"


def _path_name(p: int) -> str:
    return f"src/dir{p % 7}/file{p}.txt"


def make_changelog(
    rng: np.random.Generator,
    n_events: int,
    keys: KeySpace,
    first_offset: int,
    delete_ratio: float = 0.10,
    dup_ratio: float = 0.05,
    content_bytes: int = 96,
) -> Changelog:
    """``n_events`` fresh events in transactions of 1-3 rows, plus about
    ``dup_ratio`` re-delivered verbatim copies (same offset and seq).

    Rows of one transaction share an offset and order by ``seq_in_tx``; a
    key may appear twice in one transaction, so the seq order decides.
    Offsets grow globally, so they also grow within each partition.
    """
    tx_sizes = rng.choice([1, 2, 3], size=n_events, p=[0.6, 0.25, 0.15])
    tx_sizes = tx_sizes[: np.searchsorted(np.cumsum(tx_sizes), n_events) + 1]
    tx_sizes[-1] -= int(tx_sizes.sum()) - n_events
    tx_sizes = tx_sizes[tx_sizes > 0]
    n_tx = len(tx_sizes)
    tx_of = np.repeat(np.arange(n_tx), tx_sizes)
    offset = first_offset + tx_of.astype(np.int64)
    starts = np.repeat(np.cumsum(tx_sizes) - tx_sizes, tx_sizes)
    seq = (np.arange(n_events) - starts).astype(np.int32)
    partition = rng.integers(0, N_PARTITIONS, size=n_tx).astype(np.int32)[tx_of]
    repo_id, path_id = keys.draw(rng, n_events)
    is_delete = rng.random(n_events) < delete_ratio
    key_id = repo_id.astype(np.int64) * keys.paths_per_repo + path_id
    _, first = np.unique(key_id, return_index=True)
    is_first = np.zeros(n_events, dtype=bool)
    is_first[first] = True
    ops = np.where(is_delete, "delete", np.where(is_first, "insert", "update")).tolist()
    repo_names = [_repo_name(r) for r in range(keys.n_repos)]
    path_names = [_path_name(p) for p in range(keys.paths_per_repo)]
    repo = [repo_names[r] for r in repo_id.tolist()]
    path = [path_names[p] for p in path_id.tolist()]
    commit_hex = rng.bytes(20 * n_events).hex()
    body_hex = rng.bytes(content_bytes * n_events).hex()
    commit, lang, content = [], [], []
    for i, (o, kid) in enumerate(zip(offset.tolist(), key_id.tolist())):
        if is_delete[i]:
            commit.append(None)
            lang.append(None)
            content.append(None)
            continue
        commit.append(commit_hex[40 * i: 40 * i + 40])
        lang.append(LANGS[kid % len(LANGS)])
        b = 2 * content_bytes * i
        content.append(f"{repo[i]}:{path[i]}@{o} {body_hex[b: b + 2 * content_bytes]}")
    log = Changelog(offset, partition, seq, ops, repo, path, commit, lang, content)
    dups = np.flatnonzero(rng.random(n_events) < dup_ratio)
    if len(dups):
        order = np.concatenate([np.arange(n_events), dups])
        log = log.take(order)
    return log


# ------------------------------------------------------------------ near-dup
SHINGLE_N = 3
LSH_K, LSH_BANDS = 16, 8
VEC_DIM, VEC_PLANES, VEC_TABLES = 16, 4, 6
COSINE_THRESHOLD = 0.95
DOC_WORDS = 100
MISS_LIMIT = 1e-6


def shingles(text: str, n: int = SHINGLE_N) -> set[str]:
    w = text.split()
    if len(w) < n:
        return {" ".join(w)}
    return {" ".join(w[i: i + n]) for i in range(len(w) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def minhash_miss_probability(j: float, k: int = LSH_K, bands: int = LSH_BANDS) -> float:
    """P(a pair of Jaccard j shares no band) for ``bands`` bands of k/bands rows."""
    return (1.0 - j ** (k // bands)) ** bands


def hyperplane_miss_probability(cos: float, planes: int = VEC_PLANES, tables: int = VEC_TABLES) -> float:
    """P(a pair at this cosine shares no bucket in any of ``tables`` tables)."""
    theta = math.acos(max(-1.0, min(1.0, cos)))
    return (1.0 - (1.0 - theta / math.pi) ** planes) ** tables


def cosine(a: np.ndarray, b: np.ndarray) -> float:
    return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))


@dataclass
class NearDupCorpus:
    """Document texts and vectors keyed by id, with planted near-dup pairs.

    ``pairs`` maps each planted member to its partner. Generation keeps the
    invariant that a live planted pair is always within the LSH recall
    limit (asserted against ``MISS_LIMIT``)."""

    texts: dict[int, str]
    vecs: dict[int, np.ndarray]
    pairs: dict[int, int]
    rng: np.random.Generator = field(repr=False)

    def random_text(self) -> str:
        return " ".join(f"t{w}" for w in self.rng.integers(0, VOCAB, size=DOC_WORDS))

    def twin_text(self, text: str) -> str:
        w = text.split()
        i = int(self.rng.integers(SHINGLE_N, len(w) - SHINGLE_N))
        w[i] = f"t{int(self.rng.integers(VOCAB, 2 * VOCAB))}"
        out = " ".join(w)
        assert minhash_miss_probability(jaccard(text, out)) < MISS_LIMIT
        return out

    def random_vec(self) -> np.ndarray:
        return self.rng.standard_normal(VEC_DIM)

    def twin_vec(self, v: np.ndarray) -> np.ndarray:
        noise = self.rng.standard_normal(VEC_DIM)
        out = v + 0.02 * np.linalg.norm(v) / math.sqrt(VEC_DIM) * noise
        assert hyperplane_miss_probability(cosine(v, out)) < MISS_LIMIT
        return out


def make_corpus(seed: int, n_docs: int, n_pairs: int) -> NearDupCorpus:
    rng = rng_for(seed, "neardup")
    c = NearDupCorpus({}, {}, {}, rng)
    for i in range(n_docs):
        c.texts[i] = c.random_text()
        c.vecs[i] = c.random_vec()
    members = rng.choice(n_docs, size=2 * n_pairs, replace=False)
    for a, b in zip(members[:n_pairs].tolist(), members[n_pairs:].tolist()):
        c.pairs[a], c.pairs[b] = b, a
        c.texts[b] = c.twin_text(c.texts[a])
        c.vecs[b] = c.twin_vec(c.vecs[a])
    return c


def _event_columns(ids, ops, first_offset: int):
    n = len(ids)
    offset = np.arange(first_offset, first_offset + n, dtype=np.int64)
    return {
        "offset": pa.array(offset, pa.int64()),
        "partition_id": pa.array(offset % N_PARTITIONS, pa.int32()),
        "seq_in_tx": pa.array(np.zeros(n, np.int32), pa.int32()),
        "op": pa.array(ops, pa.string()),
        "ts": _ts_array(offset),
    }


def doc_events_table(ids, ops, texts, first_offset: int) -> pa.Table:
    cols = _event_columns(ids, ops, first_offset)
    cols["doc_id"] = pa.array(ids, pa.int64())
    cols["after"] = pa.array(
        [None if op == "delete" else {"text": t} for op, t in zip(ops, texts)],
        pa.struct([pa.field("text", pa.string())]),
    )
    return pa.table(cols)


def vec_events_table(ids, ops, vecs, first_offset: int) -> pa.Table:
    cols = _event_columns(ids, ops, first_offset)
    cols["vec_id"] = pa.array(ids, pa.int64())
    cols["after"] = pa.array(
        [None if op == "delete" else {"embedding": [float(x) for x in v]} for op, v in zip(ops, vecs)],
        pa.struct([pa.field("embedding", pa.list_(pa.float64()))]),
    )
    return pa.table(cols)


def write_table(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path
