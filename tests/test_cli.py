"""The spark-submit-able CLI surface, driven as real subprocesses.

One test walks the operational sequence an operator would run:
bootstrap a table from a source dump, self-check the declared config,
then drain the realtime tail with the full YAML-declared pipeline
(enrichment + relatedQuery + deleteOnMissing)."""

from __future__ import annotations

import subprocess
import sys
import textwrap
from pathlib import Path

from pyspark.sql import functions as F

from binlog_es_go_spark.lake.table import LakeTable

REPO = Path(__file__).resolve().parents[1]
CLI = [sys.executable, "scripts/run_pipeline.py"]


def _run(args: list[str]) -> subprocess.CompletedProcess:
    return subprocess.run(
        CLI + args + ["--cores", "4"],
        capture_output=True, text=True, timeout=300, cwd=REPO,
    )


def test_cli_bootstrap_selfcheck_realtime(spark, tmp_path):
    # ---- fixture data (built with the test session; CLI runs fresh JVMs)
    src_path = str(tmp_path / "src")
    spark.createDataFrame(
        [(k, f"cust{k}", k % 3) for k in range(1, 9) if k != 4],
        "custkey long, name string, nationkey long",
    ).write.parquet(src_path)
    nation_path = str(tmp_path / "nation")
    spark.createDataFrame(
        [(0, "N0"), (1, "N1"), (2, "N2")], "nationkey long, n_name string"
    ).write.parquet(nation_path)
    target = str(tmp_path / "target")

    events_dir = str(tmp_path / "events")
    schema = (
        "offset long, partition_id int, seq_in_tx int, op string, table string, "
        "custkey long, nationkey long, after struct<name:string>, ts timestamp"
    )
    rows = [(k, 0, 0, "insert", "customer_17", k, None, (f"ev{k}",), None) for k in range(1, 6)]
    rows.append((100, 1, 0, "update", "nation_3", -1, 1, None, None))
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(events_dir)

    cfg_path = tmp_path / "task.yaml"
    cfg_path.write_text(textwrap.dedent(f"""
        name: cli_task
        target_table_path: {target}
        key_cols: [custkey]
        main_table: customer
        main_table_path: {src_path}
        relevant_tables: [customer, nation]
        table_rewrite_rules:
          - ["_[0-9]+$", ""]
        n_buckets: 4
        delete_on_missing: true
        enrichments:
          - table_path: {nation_path}
            on: [nationkey]
            kind: dim
        related_queries:
          - child_table: nation
            join_cols: [nationkey]
            parent_key_cols: [custkey]
        """))

    # ---- 1. config-declared bootstrap seeds the table ENRICHED (the
    # reference's bootstrap runs the mapping SQL; ours runs the mapper)
    r = _run(["--mode", "bootstrap", "--config", str(cfg_path), "--source", src_path])
    assert r.returncode == 0, r.stderr[-2000:]
    assert "bootstrap committed" in r.stdout

    # ---- 2. self-check validates the YAML-declared pipeline
    r = _run(["--mode", "self-check", "--config", str(cfg_path), "--events", events_dir])
    assert r.returncode == 0, r.stdout + r.stderr[-2000:]
    assert "preflight: PASS" in r.stdout

    # ---- 3. realtime mode drains the tail through the config pipeline
    r = _run(["--mode", "realtime", "--config", str(cfg_path),
              "--events", events_dir, "--checkpoint", str(tmp_path / "ckpt")])
    assert r.returncode == 0, r.stderr[-2000:]
    assert "tail drained" in r.stdout

    t = LakeTable.load(spark, target)
    got = {r["custkey"]: (r["name"], r["n_name"], r["last_offset"])
           for r in t.read().select("custkey", "name", "n_name", "last_offset").collect()}
    # custkey 4 deleted (missing upstream). Each recomputed key is stamped
    # at ITS OWN trigger offset: keys 1 and 7 at the nation child event's
    # offset 100 (the reverse lookup threads the triggering offset through,
    # and 100 beats key 1's own insert at offset 1); keys 2, 3, 5 at their
    # own insert offsets; bootstrap-only keys (6, 8) stay at epoch offset 0
    # — and are ALSO enriched, because a config-declared bootstrap runs the
    # mapper.
    assert 4 not in got
    for k in (1, 7):
        assert got[k] == (f"cust{k}", "N1", 100)
    for k in (2, 3, 5):
        assert got[k][2] == k and got[k][1] is not None
    assert got[6] == ("cust6", "N0", 0)
    assert got[8] == ("cust8", "N2", 0)


def test_cli_maintenance_and_replication(spark, tmp_path):
    """Operator maintenance surface: bootstrap -> stats -> compact with
    tombstone GC -> incremental replicate (position recorded in the
    replica manifest; second run is 'up to date')."""
    src_path = str(tmp_path / "msrc")
    spark.createDataFrame(
        [(k, f"v{k}") for k in range(40)], "id long, val string"
    ).write.parquet(src_path)
    target = str(tmp_path / "mtarget")
    replica = str(tmp_path / "mreplica")

    r = _run(["--mode", "bootstrap", "--target", target, "--source", src_path,
              "--key-cols", "id", "--n-buckets", "4"])
    assert r.returncode == 0, r.stderr[-2000:]

    r = _run(["--mode", "stats", "--target", target, "--key-cols", "id"])
    assert r.returncode == 0 and "'rows': 40" in r.stdout, r.stdout + r.stderr[-500:]

    r = _run(["--mode", "compact", "--target", target, "--key-cols", "id",
              "--drop-tombstones"])
    assert r.returncode == 0 and "compacted -> v" in r.stdout, r.stdout + r.stderr[-2000:]

    r = _run(["--mode", "replicate", "--target", target, "--key-cols", "id",
              "--replica", replica])
    assert r.returncode == 0 and "replicated v0..v" in r.stdout, r.stdout + r.stderr[-2000:]
    rep = LakeTable.load(spark, replica)
    assert rep.read().count() == 40
    assert int(rep.snapshot().properties["replicated_through"]) == 2

    r = _run(["--mode", "replicate", "--target", target, "--key-cols", "id",
              "--replica", replica])
    assert r.returncode == 0 and "up to date" in r.stdout, r.stdout + r.stderr[-2000:]


def test_cli_replicate_fresh_replica_of_gcd_source(spark, tmp_path):
    """First-time replication of a source that already ran a tombstone GC
    must succeed: a v0 diff into an empty replica cannot miss anything (a
    GC'd delete is a key invisible on both sides). And --from-version > 0
    on a fresh replica is rejected instead of silently building an
    incomplete replica."""
    from binlog_es_go_spark.cdc.apply import apply_batch, applied_offsets
    from binlog_es_go_spark.cdc.events import generate_changelog
    from binlog_es_go_spark.lake.changes import GC_VERSION_PROP
    from binlog_es_go_spark.lake.maintenance import compact
    from pyspark.sql import types as T

    payload = T.StructType([T.StructField(n, T.StringType())
                            for n in ["repo", "path", "commit", "lang", "content"]])
    src_root = str(tmp_path / "gsrc")
    src = LakeTable.create(spark, src_root, payload, key_cols=["repo", "path"], n_buckets=4)
    log = generate_changelog(spark, 1500, n_repos=10, paths_per_repo=8, seed=33)
    apply_batch(src, log, batch_id=0)
    wm = min(applied_offsets(src).values())
    compact(src, drop_tombstones_below=wm + 1)
    assert int(src.snapshot().properties.get(GC_VERSION_PROP, -1)) >= 0, "GC watermark recorded"

    replica = str(tmp_path / "grep")
    r = _run(["--mode", "replicate", "--target", src_root, "--key-cols", "repo,path",
              "--replica", replica])
    assert r.returncode == 0 and "replicated v0..v" in r.stdout, r.stdout + r.stderr[-2000:]
    rep = LakeTable.load(spark, replica)
    assert rep.read().count() == src.read().count()

    r = _run(["--mode", "replicate", "--target", src_root, "--key-cols", "repo,path",
              "--replica", str(tmp_path / "grep2"), "--from-version", "1"])
    assert r.returncode != 0 and "incomplete replica" in (r.stdout + r.stderr)


def test_replicate_rejects_second_source(spark, tmp_path):
    """stream_offsets / replicated_through share one reserved partition:
    a second replication source into the same target must raise, not
    silently interleave bookkeeping."""
    import pytest

    from binlog_es_go_spark.cdc.apply import apply_batch
    from binlog_es_go_spark.cdc.events import generate_changelog
    from binlog_es_go_spark.lake.changes import replicate_changes
    from pyspark.sql import types as T

    payload = T.StructType([T.StructField(n, T.StringType())
                            for n in ["repo", "path", "commit", "lang", "content"]])
    log = generate_changelog(spark, 800, n_repos=8, paths_per_repo=6, seed=11)
    s1 = LakeTable.create(spark, str(tmp_path / "s1"), payload, key_cols=["repo", "path"], n_buckets=4)
    s2 = LakeTable.create(spark, str(tmp_path / "s2"), payload, key_cols=["repo", "path"], n_buckets=4)
    apply_batch(s1, log.filter(F.col("offset") < 400), batch_id=0)
    apply_batch(s2, log.filter(F.col("offset") >= 400), batch_id=0)
    dst = LakeTable.create(spark, str(tmp_path / "d"), payload, key_cols=["repo", "path"], n_buckets=4)

    replicate_changes(s1, dst, 0)
    with pytest.raises(ValueError, match="refusing second source"):
        replicate_changes(s2, dst, 0)
    # same source again is fine (incremental resume)
    apply_batch(s1, log.filter(F.col("offset") >= 400), batch_id=1)
    replicate_changes(s1, dst, int(dst.snapshot().properties["replicated_through"]))


def test_cli_compact_deltas_and_shipped_export(spark, tmp_path):
    """Round-5 operational surface: a tail that delta-appended leaves
    pending merge-on-read debt — --mode compact-deltas folds it; --mode
    export --ship-url delivers the bodies to a live (stub) search
    cluster and writes a per-body delivery report."""
    from pyspark.sql import types as T

    from binlog_es_go_spark.cdc.apply import apply_batch
    from tests.test_bulk_shipper import _StubES, _make_server

    target = str(tmp_path / "dtarget")
    t = LakeTable.create(
        spark, target,
        T.StructType([T.StructField("id", T.LongType()), T.StructField("val", T.StringType())]),
        key_cols=["id"], n_buckets=4,
    )
    schema = ("offset long, partition_id int, seq_in_tx int, op string, id long, "
              "before struct<val:string>, after struct<val:string>, ts timestamp")

    def events(rows):
        return spark.createDataFrame(
            [(off, 0, 0, op, k, None, None if op == "delete" else (v,), None)
             for off, op, k, v in rows], schema)

    apply_batch(t, events([(k, "insert", k, f"v{k}") for k in range(30)]), batch_id=0)
    apply_batch(t, events([(100, "update", 3, "v3b"), (101, "delete", 7, None)]),
                batch_id=1, write_mode="delta")
    assert t.snapshot().deltas

    r = _run(["--mode", "compact-deltas", "--target", target, "--key-cols", "id"])
    assert r.returncode == 0 and "folded deltas -> v" in r.stdout, r.stdout + r.stderr[-2000:]
    t2 = LakeTable.load(spark, target)
    assert not t2.snapshot().deltas
    state = {row["id"]: row["val"] for row in t2.read().collect()}
    assert state[3] == "v3b" and 7 not in state and len(state) == 29

    stub = _StubES()
    srv, url = _make_server(stub)
    try:
        out = str(tmp_path / "export_out")
        r = _run(["--mode", "export", "--target", target, "--key-cols", "id",
                  "--out", out, "--index", "docs", "--n-shards", "2",
                  "--ship-url", url])
        assert r.returncode == 0 and "shipped to" in r.stdout, r.stdout + r.stderr[-2000:]
        assert "0 errors" in r.stdout
        assert len(stub.docs) == 29 and stub.docs["3"] == {"val": "v3b"}
    finally:
        srv.shutdown()


def test_cli_export_follow_tail(spark, tmp_path):
    """--mode export --follow: the continuous-delivery loop as an
    operator would run it — catch up, exit on idle, resume from the
    sidecar state on the next invocation, deltas included."""
    from pyspark.sql import types as T

    from binlog_es_go_spark.cdc.apply import apply_batch
    from tests.test_bulk_shipper import _StubES, _make_server

    target = str(tmp_path / "ftarget")
    t = LakeTable.create(
        spark, target,
        T.StructType([T.StructField("id", T.LongType()), T.StructField("val", T.StringType())]),
        key_cols=["id"], n_buckets=4,
    )
    schema = ("offset long, partition_id int, seq_in_tx int, op string, id long, "
              "before struct<val:string>, after struct<val:string>, ts timestamp")

    def events(rows):
        return spark.createDataFrame(
            [(off, 0, 0, op, k, None, None if op == "delete" else (v,), None)
             for off, op, k, v in rows], schema)

    apply_batch(t, events([(k, "insert", k, f"v{k}") for k in range(15)]), batch_id=0)

    stub = _StubES()
    srv, url = _make_server(stub)
    try:
        out = str(tmp_path / "follow_out")
        base = ["--mode", "export", "--target", target, "--key-cols", "id",
                "--out", out, "--index", "docs", "--n-shards", "2",
                "--ship-url", url, "--follow", "--until-idle",
                "--poll-interval-sec", "0.1"]
        r = _run(base)
        assert r.returncode == 0 and "followed to v" in r.stdout, r.stdout + r.stderr[-2000:]
        assert len(stub.docs) == 15 and stub.docs["3"] == {"val": "v3"}

        # more commits (one via the merge-on-read delta path), then a
        # second invocation resumes from the sidecar state
        apply_batch(t, events([(100, "update", 3, "v3b"), (101, "delete", 7, None)]),
                    batch_id=1, write_mode="delta")
        r2 = _run(base)
        assert r2.returncode == 0, r2.stdout + r2.stderr[-2000:]
        assert stub.docs["3"] == {"val": "v3b"} and "7" not in stub.docs
        assert len(stub.docs) == 14
    finally:
        srv.shutdown()


def test_cli_lsh_index_tail_with_restart(spark, tmp_path):
    """--mode lsh-index: create-and-drain, then a SECOND CLI run (fresh
    JVM, same checkpoint) picks up a later batch — final index equals a
    full rebuild from the final doc set."""
    from binlog_es_go_spark.operators.dedup import banded_signature_rows

    docs = [(i, f"sentence number {i} about incremental index maintenance flows") for i in range(8)]
    ddf = spark.createDataFrame(docs, "doc_id long, text string")

    def ev(df, off_col, op, text_col):
        return df.select(
            off_col.cast("long").alias("offset"),
            F.lit(0).cast("int").alias("partition_id"),
            F.lit(0).cast("int").alias("seq_in_tx"),
            F.lit(op).alias("op"),
            F.col("doc_id"),
            (F.struct(text_col.alias("text")) if op != "delete" else F.lit(None)).cast(
                "struct<text:string>"
            ).alias("after"),
            F.lit(None).cast("timestamp").alias("ts"),
        )

    events_dir = str(tmp_path / "events")
    target = str(tmp_path / "ix")
    ckpt = str(tmp_path / "ckpt")
    base = ["--mode", "lsh-index", "--target", target, "--events", events_dir,
            "--checkpoint", ckpt, "--lsh-k", "16", "--lsh-bands", "4",
            "--n-buckets", "4", "--key-cols", "id,band", "--sig-store", "table"]

    ev(ddf, F.col("doc_id"), "insert", F.col("text")).coalesce(1).write.mode("append").parquet(events_dir)
    r1 = _run(base)
    assert r1.returncode == 0, r1.stderr[-2000:]
    assert "8 docs indexed" in r1.stdout

    # batch 2 lands after the first drain: update doc 0, delete doc 7
    upd = ev(ddf.filter(F.col("doc_id") == 0), F.lit(100), "update",
             F.concat(F.col("text"), F.lit(" revised")))
    dele = ev(ddf.filter(F.col("doc_id") == 7), F.lit(101), "delete", F.col("text"))
    upd.unionByName(dele).coalesce(1).write.mode("append").parquet(events_dir)
    r2 = _run(base)
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert "7 docs indexed" in r2.stdout

    final_docs = spark.createDataFrame(
        [(0, docs[0][1] + " revised")] + [(i, t) for i, t in docs[1:7]],
        "doc_id long, text string",
    )
    from binlog_es_go_spark.operators.lsh_index import LshIndex

    idx = LshIndex.load(spark, target)
    got = {(r["id"], r["band"]): (r["bh"], tuple(r["sig"])) for r in idx.band_rows().collect()}
    want = {
        (r["id"], r["band"]): (r["bh"], tuple(r["sig"]))
        for r in banded_signature_rows(final_docs, "text", "doc_id", k=16, bands=4).collect()
    }
    assert got == want
