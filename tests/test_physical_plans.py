"""Physical-plan hygiene: the plans we'd want at 100 TB, asserted.

Scale is a plan property, not a benchmark number: dims must broadcast,
filters must reach the parquet scan, the CDC hot path must stay JVM-side
(no Python eval nodes), and expressions must run inside whole-stage
codegen. These tests pin those properties so regressions surface as test
failures, not as production slowdowns.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from binlog_es_go_spark.cdc.bootstrap import as_changelog
from binlog_es_go_spark.cdc.events import flatten_changelog, generate_changelog
from binlog_es_go_spark.lake.merge import dedup_last_writer

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_enrichment_dims_broadcast(spark):
    import __spark_entry__ as entrymod

    df = entrymod.queries()["enrichment_mapping"](spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, "dimension joins must broadcast"


def test_filter_pushdown_reaches_scan(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").filter(F.col("lang") == "en").select("doc_id", "lang")
    plan = plan_of(docs)
    assert "PushedFilters: [" in plan and "lang" in plan.split("PushedFilters:")[1][:120], plan[:500]


def test_column_pruning_reaches_scan(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    plan = plan_of(docs)
    read_schema = plan.split("ReadSchema:")[1][:120]
    assert "text" not in read_schema, f"unpruned scan: {read_schema}"


def test_cdc_hot_path_has_no_python(spark):
    """flatten -> dedup window -> bucket expr: all JVM (no Batch/ArrowEval)."""
    log = generate_changelog(spark, 1000, n_repos=10, paths_per_repo=10)
    from binlog_es_go_spark.lake.table import bucket_expr

    pipeline = dedup_last_writer(flatten_changelog(log), ["repo", "path"]).withColumn(
        "_bucket", bucket_expr(["repo", "path"], 64)
    )
    plan = plan_of(pipeline)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "PythonUDF"):
        assert marker not in plan, f"Python in the CDC hot path: {marker}"
    # Spark 4 plans the LWW row_number()==1 with WindowGroupLimit: a
    # PARTIAL top-1 pass runs map-side BEFORE the shuffle, so only one
    # candidate row per key per input partition crosses the wire — the
    # single most important plan property for replaying skewed changelogs.
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_cdc_hot_path_single_shuffle(spark):
    """The fused window = exactly one Exchange in the dedup pipeline."""
    log = generate_changelog(spark, 1000, n_repos=10, paths_per_repo=10)
    pipeline = dedup_last_writer(flatten_changelog(log), ["repo", "path"])
    plan = plan_of(pipeline)
    assert plan.count("Exchange") == 1, f"expected 1 shuffle, plan:\n{plan[:800]}"


def test_bootstrap_where_pushed_down(spark):
    base = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id"), F.col("lang"), F.col("text").alias("content")
    )
    cl = as_changelog(base, ["doc_id"], where="lang = 'en'")
    plan = plan_of(cl)
    assert "PushedFilters: [" in plan and "lang" in plan.split("PushedFilters:")[1][:160]


def test_semi_join_for_reverse_lookup(spark):
    import __spark_entry__ as entrymod

    df = entrymod.queries()["reverse_lookup_affected_parents"](spark, SF)
    plan = plan_of(df)
    assert "LeftSemi" in plan or "left_semi" in plan.lower(), plan[:600]


def test_recompute_semi_joins_broadcast_key_side(spark):
    """Recompute-mode scale shape: the (small) affected-key set must
    BROADCAST against the (huge) main source table — the main table is
    scanned, never shuffled, per micro-batch."""
    main_src = spark.read.parquet(f"{SF}/customer.parquet")
    keys = main_src.select("c_custkey").filter("c_custkey < 50").distinct()
    found = main_src.join(keys, on=["c_custkey"], how="left_semi")
    plan = plan_of(found)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan[:800]
    # and the big side must carry no Exchange (scan feeds the join directly)
    big_side = plan.split("BroadcastHashJoin")[1]
    scan_part = big_side.split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in scan_part, plan[:800]


def test_simhash_is_jvm_only(spark):
    """The SimHash signature path must stay inside codegen — no Python
    eval nodes (it replaced a pandas UDF in round 2)."""
    from binlog_es_go_spark.operators.dedup import simhash64

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(simhash64(docs, "text", "doc_id"))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "PythonUDF"):
        assert marker not in plan, f"Python in simhash path: {marker}"
    assert "Exchange" not in plan, "simhash must be map-side only"


def test_ann_broadcasts_queries_not_corpus(spark):
    from binlog_es_go_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = cosine_topk(emb, emb.filter("vec_id < 3"), "embedding", "vec_id", "vec_id", k=5)
    plan = plan_of(out)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_ivf_kmeans_corpus_side_no_shuffle(spark):
    """The k-means IVF plan at 100 TB: centroid assignment is pure codegen
    expressions on the corpus scan, the (small) probe side broadcasts, and
    the only Exchange is the per-query top-k window — the corpus is
    scanned exactly once and never hash-shuffled."""
    from binlog_es_go_spark.operators.similarity import ivf_kmeans_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = ivf_kmeans_topk(
        emb, emb.filter(F.col("vec_id") < 3), "embedding", "vec_id", "vec_id",
        k=5, n_centroids=8, nprobe=2,
    )
    plan = plan_of(out)
    assert "BroadcastExchange" in plan, plan[:600]
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert marker not in plan, f"Python in the IVF hot path: {marker}"
    # exactly one data shuffle: the top-k window on query_id
    assert plan.count("Exchange hashpartitioning") == 1, plan[:1200]


def test_lsh_index_band_events_jvm_only(spark, tmp_path):
    """The incremental index's per-batch signature+banding transform must
    stay inside codegen — no Python eval nodes, and no shuffle: the fan-out
    from doc events to band rows is map-side (the MERGE downstream owns the
    one wide exchange)."""
    from pyspark.sql import types as T

    from binlog_es_go_spark.operators.lsh_index import LshIndex

    idx = LshIndex.create(spark, str(tmp_path / "ix"), k=16, bands=4)
    after_t = T.StructType([T.StructField("text", T.StringType())])
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("offset"),
        F.lit(0).cast("int").alias("partition_id"),
        F.lit(0).cast("int").alias("seq_in_tx"),
        F.lit("insert").alias("op"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.struct(F.col("text").alias("text")).cast(after_t).alias("after"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    plan = plan_of(idx.band_events(docs))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "PythonUDF"):
        assert marker not in plan, f"Python in the index maintenance path: {marker}"
    assert "Exchange" not in plan, "band fan-out must be map-side only"


def test_lsh_index_probe_scan_not_shuffled_whole(spark, tmp_path):
    """The probe path's scale property: probe ids AND the touched
    (band, bh) bucket set both broadcast against the index scan — the
    skew-cap window and pair join see only touched-bucket rows, never a
    hash-shuffle of the whole index (two BroadcastExchanges pin the
    shape; the single-broadcast form windowed the full scan)."""
    from pyspark.sql import types as T

    from binlog_es_go_spark.operators.lsh_index import LshIndex

    idx = LshIndex.create(spark, str(tmp_path / "ixp"), k=16, bands=4)
    after_t = T.StructType([T.StructField("text", T.StringType())])
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50).select(
        F.col("doc_id").cast("long").alias("offset"),
        F.lit(0).cast("int").alias("partition_id"),
        F.lit(0).cast("int").alias("seq_in_tx"),
        F.lit("insert").alias("op"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.struct(F.col("text").alias("text")).cast(after_t).alias("after"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    idx.apply_doc_batch(docs, batch_id=0)
    probe = spark.createDataFrame([(1,)], ["id"])
    plan = plan_of(idx.candidate_pairs(probe_ids=probe))
    assert plan.count("BroadcastExchange") >= 2, plan[:1200]
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert marker not in plan, f"Python in the probe path: {marker}"


def test_read_keys_resolves_deltas_in_one_window(spark, tmp_path):
    """A point lookup with pending deltas resolves its few pruned rows in
    ONE guard window — no broadcast anti/semi join pair, which is the
    full-scan shape of resolve_merge_on_read."""
    import re

    from binlog_es_go_spark.cdc.apply import apply_batch
    from binlog_es_go_spark.lake.table import LakeTable

    payload = T.StructType([T.StructField(n, T.StringType()) for n in ("repo", "path", "content")])
    schema = ("offset long, partition_id int, seq_in_tx int, op string, repo string, "
              "path string, after struct<content:string>, ts timestamp")
    t = LakeTable.create(spark, str(tmp_path / "pt"), payload, ["repo", "path"], n_buckets=4)

    def batch(offset, n, content):
        rows = [(offset + i, 0, 0, "update", f"r{i}", "a.py", (content,), None) for i in range(n)]
        return spark.createDataFrame(rows, schema)

    apply_batch(t, batch(0, 20, "v0"), batch_id=0)
    apply_batch(t, batch(100, 5, "v1"), batch_id=1, write_mode="delta")
    assert t.snapshot().deltas
    df = t.read_keys([("r1", "a.py"), ("r7", "a.py")])
    plan = plan_of(df)
    assert "BroadcastExchange" not in plan and "BroadcastHashJoin" not in plan, plan[:1500]
    # base files and deltas in ONE scan, one partition: no shuffle at all
    assert "Exchange" not in plan, plan[:1500]
    assert len(re.findall(r"FileScan parquet", plan)) == 1, plan[:1500]
    pushed = plan.split("PushedFilters: [", 1)[1].split(", ReadSchema:", 1)[0]
    assert "In(_khash," in pushed, pushed
    assert len(re.findall(r"\bWindow \[", plan)) == 1, plan[:1500]
    assert sorted((r["repo"], r["content"]) for r in df.collect()) == [("r1", "v1"), ("r7", "v0")]


def test_read_keys_with_pending_delta_runs_one_job(spark, tmp_path):
    """A point lookup whose keys have a pending delta is one Spark job:
    no AQE map stage ahead of the guard window (counted by job group)."""
    from test_observed_keys import PAYLOAD, _events, _jobs_in_group

    from binlog_es_go_spark.cdc.apply import apply_batch
    from binlog_es_go_spark.lake.table import LakeTable

    t = LakeTable.create(spark, str(tmp_path / "t"), PAYLOAD, ["repo", "path"], n_buckets=4)
    base = [(i, 0, "insert", f"r{i}", "a.py", "v0") for i in range(40)]
    apply_batch(t, _events(spark, tmp_path, "base", base), batch_id=0)
    update = [(100 + i, 0, "update", f"r{i}", "a.py", "v1") for i in range(5)]
    apply_batch(t, _events(spark, tmp_path, "update", update), batch_id=1, write_mode="delta")
    assert t.snapshot().deltas
    rows, jobs = _jobs_in_group(
        spark, "lookup",
        lambda: t.read_keys([("r1", "a.py"), ("r30", "a.py")]).select("repo", "content").collect(),
    )
    assert sorted(tuple(r) for r in rows) == [("r1", "v1"), ("r30", "v0")]
    assert jobs == 1
