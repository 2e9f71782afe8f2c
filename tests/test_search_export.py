"""ES bulk-action export: action/source lines, versioning, routing, bodies."""

from __future__ import annotations

import json
import zlib

from pyspark.sql import functions as F

from binlog_es_go_spark.operators.search_export import (
    bulk_bodies,
    bulk_index_actions,
    external_version,
)


def _changes(spark):
    return spark.createDataFrame(
        [
            ("r1", "a.py", "update", 10, 2, "hello"),
            ("r1", "b.py", "delete", 11, 0, None),
            ("r2", "c.py", "insert", 9, 1, 'tricky "quoted" \\ text'),
        ],
        "repo string, path string, op string, offset long, seq_in_tx int, content string",
    )


def test_action_and_source_lines_json_mode(spark):
    acts = bulk_index_actions(
        _changes(spark), ["repo", "path"], ["content"], index="idx", n_shards=16
    ).collect()
    by_id = {r["_id"]: r for r in acts}
    up = by_id["r1:a.py"]
    assert up["action"] == "index"
    assert up["version"] == 10 * (1 << 20) + 2
    meta = json.loads(up["action_line"])
    assert meta["index"] == {"_index": "idx", "_id": "r1:a.py",
                            "version": up["version"], "version_type": "external"}
    assert json.loads(up["source_line"]) == {"content": "hello"}
    # json mode escapes arbitrary text correctly
    assert json.loads(by_id["r2:c.py"]["source_line"]) == {"content": 'tricky "quoted" \\ text'}
    # deletes: delete action, no source line
    de = by_id["r1:b.py"]
    assert de["action"] == "delete" and de["source_line"] is None
    assert json.loads(de["action_line"])["delete"]["_id"] == "r1:b.py"
    # routing matches the reference's crc32_ieee % n (zlib golden)
    for r in acts:
        repo, path = r["_id"].split(":")
        assert r["shard"] == zlib.crc32(f"{repo}\x1f{path}".encode()) % 16


def test_external_version_orders_like_the_guard(spark):
    df = spark.createDataFrame(
        [(5, 3), (5, 4), (6, 0)], "offset long, seq_in_tx int"
    ).select(external_version().alias("v"), "offset", "seq_in_tx").collect()
    vs = {(r["offset"], r["seq_in_tx"]): r["v"] for r in df}
    assert vs[(5, 3)] < vs[(5, 4)] < vs[(6, 0)], "lexicographic (offset, seq) preserved"


def test_bulk_bodies_chunking(spark):
    rows = [(f"r{i}", f"f{i}.py", "update", i, 0, f"v{i}") for i in range(25)]
    ch = spark.createDataFrame(
        rows, "repo string, path string, op string, offset long, seq_in_tx int, content string"
    )
    acts = bulk_index_actions(ch, ["repo", "path"], ["content"], index="idx", n_shards=2)
    bodies = bulk_bodies(acts, max_actions_per_body=10).collect()
    assert sum(r["n_actions"] for r in bodies) == 25
    assert all(r["n_actions"] <= 10 for r in bodies)
    assert {r["shard"] for r in bodies} <= {0, 1}
    # every body is valid NDJSON: action line (+ source line) pairs
    for r in bodies:
        lines = r["body"].split("\n")
        metas = [json.loads(x) for x in lines]
        n_actions = sum(1 for m in metas if "index" in m or "delete" in m)
        assert n_actions == r["n_actions"]


def test_cli_export_mode_incremental(spark, tmp_path):
    """Operational loop: bootstrap a lake, export v0..vN to _bulk bodies,
    re-run (up to date), mutate, export the increment only."""
    import subprocess
    import sys
    from pathlib import Path

    from binlog_es_go_spark.cdc.apply import apply_batch
    from binlog_es_go_spark.cdc.events import generate_changelog
    from binlog_es_go_spark.lake.table import LakeTable
    from pyspark.sql import types as T

    payload = T.StructType([T.StructField(n, T.StringType())
                            for n in ["repo", "path", "commit", "lang", "content"]])
    root = str(tmp_path / "exp_src")
    t = LakeTable.create(spark, root, payload, key_cols=["repo", "path"], n_buckets=4)
    log = generate_changelog(spark, 600, n_repos=8, paths_per_repo=6, seed=13)
    log.cache().count()
    apply_batch(t, log.filter(F.col("offset") < 300), batch_id=0)

    out = str(tmp_path / "bulks")

    def run(args):
        return subprocess.run(
            [sys.executable, "scripts/run_pipeline.py", "--mode", "export",
             "--target", root, "--key-cols", "repo,path", "--out", out,
             "--index", "repo_files", "--n-shards", "4", "--cores", "4"] + args,
            capture_output=True, text=True, timeout=300,
            cwd=Path(__file__).resolve().parents[1],
        )

    r = run([])
    assert r.returncode == 0 and "exported v0..v1" in r.stdout, r.stdout + r.stderr[-2000:]
    first = spark.read.parquet(f"{out}/v0-v1")
    n_first = first.agg(F.sum("n_actions")).collect()[0][0]
    assert n_first == t.read().count(), "initial export = every visible doc"

    r = run([])
    assert r.returncode == 0 and "up to date" in r.stdout, r.stdout + r.stderr[-2000:]

    apply_batch(t, log.filter(F.col("offset") >= 300), batch_id=1)
    r = run([])
    assert r.returncode == 0 and "exported v1..v2" in r.stdout, r.stdout + r.stderr[-2000:]
    inc = spark.read.parquet(f"{out}/v1-v2")
    n_inc = inc.agg(F.sum("n_actions")).collect()[0][0]
    assert 0 < n_inc, "incremental export is non-empty"
    body = inc.select("body").first()["body"]
    assert '"version_type":"external"' in body
