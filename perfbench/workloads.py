"""The three workloads: backfill, tail and neardup.

Each workload drives the engine through its public functions only. A run
calls ``prepare`` once (input generation for the warm-up and for a fixed
number of rounds), ``warmup`` once (base table or index builds and
untimed operations), ``round`` that number of times, and ``check`` at the
end. The number of rounds depends only on ``--seconds`` and the
workload's nominal round time ``ROUND_S``, never on how long the rounds
actually take, so every run of a workload attempts the same operations.
Timed operations go through the run's ``Recorder``; everything a check
needs is kept from the timed section and compared afterwards, outside the
timing.
"""

from __future__ import annotations

import os
from contextlib import nullcontext

import numpy as np

from binlog_es_go_spark.cdc import apply as cdc_apply
from binlog_es_go_spark.cdc.events import CHANGELOG_SCHEMA, PAYLOAD_SCHEMA
from binlog_es_go_spark.lake import changes as lake_changes
from binlog_es_go_spark.lake.table import LakeTable
from binlog_es_go_spark.operators.lsh_index import EmbeddingNearDupIndex, LshIndex
from perfbench import checks, inputs

KEY_COLS = ["repo", "path"]
N_BUCKETS = 16
ROW_COLS = ["repo", "path", "commit", "lang", "content", "last_offset", "last_seq"]
CHANGE_COLS = ["op", "repo", "path", "offset", "seq_in_tx", "commit", "lang", "content"]


def _table_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [T.StructField("repo", T.StringType()), T.StructField("path", T.StringType()),
         *PAYLOAD_SCHEMA.fields]
    )


class Workload:
    ROUND_S: float  # nominal wall time of one round on a 4-vCPU host

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.dir = os.path.join(work, "data")
        self.seed = seed

    @classmethod
    def rounds_for(cls, seconds: float) -> int:
        """Rounds a run of about ``seconds`` seconds makes."""
        return max(1, round(seconds / cls.ROUND_S))

    def prepare(self, rounds: int) -> None:
        os.makedirs(self.dir, exist_ok=True)

    def read_changelog(self, path: str):
        return self.spark.read.schema(CHANGELOG_SCHEMA).parquet(path)

    def new_table(self, name: str) -> LakeTable:
        return LakeTable.create(self.spark, os.path.join(self.dir, name), _table_schema(),
                                KEY_COLS, n_buckets=N_BUCKETS)

    def commit_samples(self, rec) -> list[float]:
        return rec.samples("commit")

    def read_samples(self, rec) -> list[float]:
        return rec.samples("read")


# ------------------------------------------------------------------ backfill
class Backfill(Workload):
    """Rounds of: one bulk ``replay_changelog`` into an empty table, then
    the change feed of each of its commits read back with
    ``snapshot_changes``. Every round replays the same changelog, so each
    round gives one replay sample and ``COMMITS`` read samples."""

    N_EVENTS = 6_000
    COMMITS = 2
    WARMUP_ROUNDS = 3
    ROUND_S = 3.0
    KEYS = inputs.KeySpace(n_repos=200, paths_per_repo=100)

    def prepare(self, rounds):
        super().prepare(rounds)
        rng = inputs.rng_for(self.seed, "backfill")
        self.log = inputs.make_changelog(rng, self.N_EVENTS, self.KEYS, first_offset=1000)
        self.path = self.log.write(os.path.join(self.dir, "changelog.parquet"))
        offs = np.unique(self.log.offset)
        self.bounds = [int(offs[len(offs) * i // self.COMMITS]) for i in range(1, self.COMMITS)]
        self.tables = 0
        self.reads = []  # (commit index, rows)
        self.final = None

    def _replay(self, rec=None):
        table = self.new_table(f"t{self.tables}")
        self.tables += 1
        with rec.op("replay", events=len(self.log)) if rec else nullcontext():
            results = cdc_apply.replay_changelog(table, self.read_changelog(self.path), self.bounds)
        if len(results) != self.COMMITS:
            raise RuntimeError(f"replay made {len(results)} commits, expected {self.COMMITS}")
        for i, r in enumerate(results):
            with rec.op("read") if rec else nullcontext() as box:
                rows = lake_changes.snapshot_changes(table, r.version - 1, r.version) \
                    .select(*CHANGE_COLS).collect()
                if box is not None:
                    box["rows"] = len(rows)
            self.reads.append((i, rows))
        return table

    def warmup(self):
        """Replays the changelog, with its reads, a few times: the first
        replay in a fresh JVM costs several times a warm one, and the next
        ones are still getting faster."""
        for _ in range(self.WARMUP_ROUNDS):
            self._replay()

    def round(self, rec):
        self.final = self._replay(rec)

    def commit_samples(self, rec):
        """One sample per replay: its wall time over its commit count (the
        commits run inside one ``replay_changelog`` call)."""
        return [dt / self.COMMITS for dt in rec.samples("replay")]

    def check(self):
        cuts = [None, *self.bounds, None]
        states = [checks.lww_duckdb([self.path], below_offset=b) for b in cuts[1:-1]]
        states.append(checks.lww_duckdb([self.path]))
        want = {}
        for i in range(self.COMMITS):
            before = states[i - 1] if i > 0 else {}
            want[i] = checks.expected_changes(before, states[i])
        for i, rows in self.reads:
            checks.check_changes(f"backfill commit {i} changes", rows, want[i])
        got = checks.table_rows(self.final.read().select(*ROW_COLS).collect())
        checks.check_state("backfill final table", got, checks.visible(states[-1]))
        checks.check_offsets(self.final.snapshot().properties[cdc_apply.OFFSETS_PROP],
                             checks.partition_max_offsets([self.path]))


# ---------------------------------------------------------------------- tail
class Tail(Workload):
    """~100-event micro-batches through ``apply_batch`` (auto write mode)
    on a base table, each followed by a ``read_keys`` of keys it wrote."""

    BASE_EVENTS = 6_000
    CONTENT_BYTES = 2048
    BATCH_EVENTS = 100
    REDELIVERED = 3
    READ_KEYS = 5
    WARMUP_BATCHES = 24
    WARMUP_READS = 2
    ROUND_BATCHES = 10
    ROUND_S = 15.0
    KEYS = inputs.KeySpace(n_repos=200, paths_per_repo=100)

    def prepare(self, rounds):
        super().prepare(rounds)
        rng = inputs.rng_for(self.seed, "tail")
        base = inputs.make_changelog(rng, self.BASE_EVENTS, self.KEYS, first_offset=1000,
                                     content_bytes=self.CONTENT_BYTES)
        self.base = base
        self.files = [base.write(os.path.join(self.dir, "base.parquet"))]
        self.batches = []  # (path, delivered events, read keys)
        nxt = int(base.offset.max()) + 1
        prev = None
        for j in range(self.WARMUP_BATCHES + self.ROUND_BATCHES * rounds):
            fresh = inputs.make_changelog(rng, self.BATCH_EVENTS, self.KEYS, first_offset=nxt,
                                          content_bytes=self.CONTENT_BYTES)
            nxt = int(fresh.offset.max()) + 1
            b = fresh
            if prev is not None:  # at-least-once: a few events of the last batch again
                again = rng.choice(len(prev), self.REDELIVERED, replace=False)
                b = inputs.Changelog.concat(fresh, prev.take(again))
            prev = fresh
            keys = list(dict.fromkeys(zip(b.repo, b.path)))
            pick = rng.choice(len(keys), self.READ_KEYS, replace=False)
            path = b.write(os.path.join(self.dir, f"batch{j:04d}.parquet"))
            self.batches.append((path, b, [keys[i] for i in sorted(pick)]))
        self.table = self.new_table("tail")
        self.applied = 0
        self.reads = []  # (batches applied, keys, rows)

    def _step(self, rec=None, read=True):
        path, b, keys = self.batches[self.applied]
        df = self.read_changelog(path)
        if rec is None:
            cdc_apply.apply_batch(self.table, df)
        else:
            with rec.op("commit", events=len(b)):
                cdc_apply.apply_batch(self.table, df)
        self.applied += 1
        if not read:
            return
        if rec is None:
            rows = self.table.read_keys(keys).select(*ROW_COLS).collect()
        else:
            with rec.op("read") as box:
                rows = self.table.read_keys(keys).select(*ROW_COLS).collect()
                box["rows"] = len(rows)
        self.reads.append((self.applied, keys, rows))

    def warmup(self):
        """Builds the base table, then applies enough micro-batches that
        the delta debt reaches the fold inside the first timed round."""
        cdc_apply.apply_batch(self.table, self.read_changelog(self.files[0]))
        for j in range(self.WARMUP_BATCHES):
            self._step(read=j >= self.WARMUP_BATCHES - self.WARMUP_READS)

    def round(self, rec):
        for _ in range(self.ROUND_BATCHES):
            self._step(rec)

    def check(self):
        state = checks.lww_fold({}, self.base.rows())
        done = 0
        for applied, keys, rows in self.reads:
            while done < applied:
                checks.lww_fold(state, self.batches[done][1].rows())
                done += 1
            checks.check_key_reads(f"tail read after batch {applied}", keys, rows, state)
        files = self.files + [p for p, _, _ in self.batches[: self.applied]]
        want = checks.lww_duckdb(files)
        got = checks.table_rows(self.table.read().select(*ROW_COLS).collect())
        checks.check_state("tail final table", got, checks.visible(want))
        checks.check_offsets(self.table.snapshot().properties[cdc_apply.OFFSETS_PROP],
                             checks.partition_max_offsets(files))


# ------------------------------------------------------------------- neardup
class NearDup(Workload):
    """Text (MinHash) and vector (hyperplane) near-dup indexes, updated by
    small batches; each batch is followed by a probe of the ids it
    changed."""

    N_DOCS = 500
    N_PAIRS = 25
    BATCH = 10
    TWINS, REINSERTS, DELETES = 3, 1, 1
    WARMUP_ROUNDS = 3
    ROUND_S = 7.5

    def prepare(self, rounds):
        super().prepare(rounds)
        corpus = inputs.make_corpus(self.seed, self.N_DOCS, self.N_PAIRS)
        self.initial = (dict(corpus.texts), dict(corpus.vecs), dict(corpus.pairs))
        ids = list(range(self.N_DOCS))
        docs0 = inputs.write_table(
            inputs.doc_events_table(ids, ["insert"] * len(ids), [corpus.texts[i] for i in ids], 0),
            os.path.join(self.dir, "docs0.parquet"))
        vecs0 = inputs.write_table(
            inputs.vec_events_table(ids, ["insert"] * len(ids), [corpus.vecs[i] for i in ids], 0),
            os.path.join(self.dir, "vecs0.parquet"))
        self.batches = self._plan(corpus, self.WARMUP_ROUNDS + rounds)
        self.initial_files = (docs0, vecs0)
        self.applied = 0
        self.probes = []  # (batch index, "doc" | "vec", pairs)

    def _plan(self, corpus, n_batches):
        """Batches of id changes, generated against a running model of the
        corpus so planted pairs stay planted only while both members hold
        near-duplicate content."""
        rng = corpus.rng
        alive = set(corpus.texts)
        dead: list[int] = []
        out = []
        first_offset = self.N_DOCS
        for j in range(n_batches):
            pairs = corpus.pairs
            heads = sorted({min(a, b) for a, b in pairs.items()})
            twins = []
            for h in rng.permutation(heads)[: self.TWINS].tolist():
                twins.append(h if rng.random() < 0.5 else pairs[h])
            taken = set(twins) | {pairs[t] for t in twins}
            changes = []  # (id, op, text, vec, keeps its planted pair)
            for t in twins:
                p = pairs[t]
                changes.append((t, "update", corpus.twin_text(corpus.texts[p]),
                                corpus.twin_vec(corpus.vecs[p]), True))
            for _ in range(min(self.REINSERTS, len(dead))):
                i = dead.pop(0)
                taken.add(i)
                changes.append((i, "insert", corpus.random_text(), corpus.random_vec(), False))
            pool = sorted(alive - taken)
            picks = rng.choice(len(pool), self.BATCH - len(changes), replace=False).tolist()
            for n, k in enumerate(picks):
                i = pool[k]
                op = "delete" if n < self.DELETES else "update"
                changes.append((i, op, None if op == "delete" else corpus.random_text(),
                                None if op == "delete" else corpus.random_vec(), False))
            for i, op, text, vec, _ in changes:
                if op == "delete":
                    dead.append(i)
            _apply_changes(changes, alive, corpus.texts, corpus.vecs, pairs)
            ids = [c[0] for c in changes]
            ops = [c[1] for c in changes]
            base = os.path.join(self.dir, f"batch{j:04d}")
            doc = inputs.write_table(
                inputs.doc_events_table(ids, ops, [c[2] for c in changes], first_offset),
                base + "-docs.parquet")
            vec = inputs.write_table(
                inputs.vec_events_table(ids, ops, [c[3] for c in changes], first_offset),
                base + "-vecs.parquet")
            first_offset += len(changes)
            out.append((doc, vec, changes))
        return out

    def commit_samples(self, rec):
        """One sample per round: the mean of its doc and vec commit, so the
        median does not sit between the two indexes' cost modes."""
        return _pair_means(rec.samples("commit"))

    def read_samples(self, rec):
        return _pair_means(rec.samples("probe"))

    def _probe_df(self, changes):
        ids = [(c[0],) for c in changes if c[1] != "delete"]
        return self.spark.createDataFrame(ids, "id long")

    def _step(self, rec=None):
        doc, vec, changes = self.batches[self.applied]
        steps = [
            ("doc", lambda: self.lsh.apply_doc_batch(self.spark.read.parquet(doc), write_mode="delta"),
             lambda ids: self.lsh.candidate_pairs(probe_ids=ids)),
            ("vec", lambda: self.emb.apply_vec_batch(self.spark.read.parquet(vec), write_mode="delta"),
             lambda ids: self.emb.candidate_pairs(probe_ids=ids)),
        ]
        for kind, commit, probe in steps:
            if rec is None:
                commit()
                pairs = probe(self._probe_df(changes)).select("id_a", "id_b").collect()
            else:
                with rec.op("commit", events=len(changes)):
                    commit()
                with rec.op("probe") as box:
                    pairs = probe(self._probe_df(changes)).select("id_a", "id_b").collect()
                    box["rows"] = len(pairs)
            self.probes.append((self.applied, kind, [(int(a), int(b)) for a, b in pairs]))
        self.applied += 1

    def warmup(self):
        """Builds both indexes over the corpus, then runs a few rounds."""
        self.lsh = LshIndex.create(self.spark, os.path.join(self.dir, "lsh"),
                                   k=inputs.LSH_K, bands=inputs.LSH_BANDS,
                                   shingle_n=inputs.SHINGLE_N, seed=self.seed)
        self.emb = EmbeddingNearDupIndex.create(
            self.spark, os.path.join(self.dir, "emb"), n_planes=inputs.VEC_PLANES,
            n_tables=inputs.VEC_TABLES, seed=self.seed, dim=inputs.VEC_DIM)
        docs0, vecs0 = self.initial_files
        self.lsh.apply_doc_batch(self.spark.read.parquet(docs0))
        self.emb.apply_vec_batch(self.spark.read.parquet(vecs0))
        for _ in range(self.WARMUP_ROUNDS):
            self._step()

    def round(self, rec):
        self._step(rec)

    def check(self):
        texts, vecs, pairs = (dict(x) for x in self.initial)
        alive = set(texts)
        by_batch: dict[int, list] = {}
        for j, kind, got in self.probes:
            by_batch.setdefault(j, []).append((kind, got))
        for j in range(self.applied):
            changes = self.batches[j][2]
            _apply_changes(changes, alive, texts, vecs, pairs)
            probed = {c[0] for c in changes if c[1] != "delete"}
            for kind, got in by_batch.get(j, []):
                checks.check_probe(
                    f"neardup batch {j} {kind} probe", got, probed, alive, pairs,
                    vecs=vecs if kind == "vec" else None, threshold=inputs.COSINE_THRESHOLD)


def _pair_means(xs: list[float]) -> list[float]:
    return [(a + b) / 2 for a, b in zip(xs[::2], xs[1::2])]


def _apply_changes(changes, alive, texts, vecs, pairs) -> None:
    """Advance the corpus model by one batch: a change that does not keep
    its planted pair (a random update, a delete, a re-insert) dissolves it."""
    for i, op, text, vec, keeps_pair in changes:
        if op == "delete":
            alive.discard(i)
        else:
            alive.add(i)
            texts[i], vecs[i] = text, vec
        if not keeps_pair:
            partner = pairs.pop(i, None)
            if partner is not None:
                pairs.pop(partner, None)


WORKLOADS = {"backfill": Backfill, "tail": Tail, "neardup": NearDup}
