"""Two independent Spark sessions (separate JVMs) racing on one lake table.

The thread test (test_concurrency) shares a JVM; this is the honest
multi-writer case: separate driver processes, snapshot isolation enforced
purely by the filesystem commit protocol (exclusive manifest link +
VERSION swap). Slow (~2 JVM startups) — one test, maximal signal.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import types as T

from binlog_es_go_spark.cdc.events import generate_changelog
from binlog_es_go_spark.cdc.oracle import apply_sequential, table_digest
from binlog_es_go_spark.lake.table import LakeTable

PAYLOAD = T.StructType([T.StructField(n, T.StringType()) for n in ["repo", "path", "commit", "lang", "content"]])

REPO = Path(__file__).resolve().parents[1]

WRITER = f"""
import sys
sys.path.insert(0, {str(REPO)!r})
from binlog_es_go_spark.session import build_session
from binlog_es_go_spark.cdc.apply import apply_batch
from binlog_es_go_spark.lake.table import LakeTable
spark = build_session("w" + sys.argv[3], parallelism=4, shuffle_partitions=4)
table = LakeTable.load(spark, sys.argv[1])
log = spark.read.parquet(sys.argv[2])
apply_batch(table, log, batch_id=int(sys.argv[3]))
print("WRITER_DONE", sys.argv[3], table.current_version())
spark.stop()
"""


@pytest.mark.slow
def test_two_processes_converge(spark, tmp_path):
    log = generate_changelog(spark, 1500, n_repos=12, paths_per_repo=8, seed=51)
    log.cache().count()
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    log.filter("offset < 750").write.parquet(a_dir)
    log.filter("offset >= 750").write.parquet(b_dir)
    root = str(tmp_path / "t")
    LakeTable.create(spark, root, PAYLOAD, key_cols=["repo", "path"], n_buckets=8)

    procs = [
        subprocess.Popen(
            [sys.executable, "-c", WRITER, root, d, str(i)],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        )
        for i, d in enumerate([a_dir, b_dir])
    ]
    outs = [p.communicate(timeout=420)[0] for p in procs]
    assert all(p.returncode == 0 for p in procs), outs
    assert all("WRITER_DONE" in o for o in outs), outs

    table = LakeTable.load(spark, root)
    assert table.current_version() == 2
    oracle = apply_sequential(log.toPandas())
    got = table.read().select("repo", "path", "content").toPandas()
    assert len(got) == len(oracle)
    assert table_digest(got) == table_digest(oracle[["repo", "path", "content"]])
