"""SparkSession builders tuned for the CDC engine.

The reference runs a single Go process (SURVEY.md §3.1: the realtime loop is
single-goroutine). Our unit of parallelism is Spark tasks; everything below
scales by changing ``parallelism`` — this is how the N -> 4N scaling
criterion is evidenced in the sandbox (local[8] vs local[32]).
"""

from __future__ import annotations

import logging
import os
import re

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

MEMINFO = "/proc/meminfo"
_UNITS = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _scratch_dir() -> str:
    for candidate in ("/dev/shm", "/tmp"):
        if os.path.isdir(candidate) and os.access(candidate, os.W_OK):
            d = os.path.join(candidate, "spark-scratch")
            os.makedirs(d, exist_ok=True)
            return d
    return "/tmp"


def heap_bytes(mem: str) -> int | None:
    """Bytes in a JVM heap size such as ``8g`` or ``2048m``; None if unparseable."""
    m = re.fullmatch(r"\s*(\d+)\s*([kmgt]?)\s*", mem.lower())
    return int(m.group(1)) * _UNITS[m.group(2)] if m else None


def mem_available_bytes(path: str) -> int | None:
    """``MemAvailable`` from a meminfo file in bytes; None where it cannot be read."""
    try:
        with open(path) as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError, IndexError):
        return None
    return None


def _warn_if_heap_exceeds_available(mem: str) -> None:
    want, avail = heap_bytes(mem), mem_available_bytes(MEMINFO)
    if want is not None and avail is not None and want > avail:
        log.warning(
            "driver heap %s is pre-touched at JVM start (-Xms=Xmx, AlwaysPreTouch) "
            "but only %.1f GiB is available (MemAvailable in %s); the JVM may be "
            "killed for lack of memory: set SPARK_DRIVER_MEM to a smaller heap",
            mem, avail / (1 << 30), MEMINFO,
        )


def build_session(
    app_name: str = "binlog-es-go-spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create a local SparkSession sized to ``parallelism`` cores.

    Shuffle partitions scale with cores (1x by default) so the same job,
    run at two parallelism levels, changes only its task-level concurrency
    — the plan shape stays identical, which is what makes the two-level
    throughput comparison a fair scaling-efficiency measurement.

    Memory: ``SPARK_DRIVER_MEM`` sets the driver heap (default ``8g``).
    The JVM starts with ``-Xms`` equal to the heap and ``AlwaysPreTouch``,
    so the whole heap is resident from JVM start: N engine processes on one
    host (CLI modes, multi-writer) need about N x heap of RAM. A warning is
    logged when the heap exceeds ``MemAvailable``. The test suite defaults
    the variable to ``2g`` (``tests/conftest.py``).
    """
    cores = parallelism or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = shuffle_partitions or max(cores, 8)
    mem = os.environ.get("SPARK_DRIVER_MEM", "8g")
    _warn_if_heap_exceeds_available(mem)
    # Xms=Xmx + AlwaysPreTouch + THP: fault the heap once at startup.
    # Measured on this sandbox: guest-kernel page-fault serialization makes
    # concurrent fresh-page allocation collapse (8 workers allocating =
    # 0.25x the aggregate bandwidth of preallocated copies); pre-touching
    # the heap removes the dominant fault source and roughly 2.4x'd
    # 32-core MERGE throughput. Harmless on real clusters.
    java_opts = f"-Xms{mem} -XX:+AlwaysPreTouch -XX:+UseTransparentHugePages"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let the planner pick shuffled-hash join when its size conditions
        # fit (optimization guide §3.1/§9): equal-keyed iterative joins
        # (connected components, LSH pair joins) pay a per-round sort
        # under sort-merge for nothing — measured 10-40% per-round win on
        # the cc bench, no change at all where broadcast applies. Spark
        # still falls back to sort-merge when neither side's per-partition
        # build fits, so the spill story is unchanged at scale.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", mem)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # shuffle/spill scratch on tmpfs when available: the sandbox's
        # virtio disk is slow/noisy; on a real cluster this is node-local
        # NVMe and the setting is harmless
        .config("spark.local.dir", _scratch_dir())
        # Output-committer v2 + no _SUCCESS markers: task outputs move to
        # the destination at TASK commit (no serial job-commit rename
        # pass). Safe for this engine at any scale: the lake's real commit
        # point is the manifest link (lake/table.py), so a partially
        # committed data directory is simply never referenced (and is
        # reclaimed by expire_snapshots) — the v1 committer's atomicity
        # buys nothing here and costs driver time per commit.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def get_or_create(spark: SparkSession | None = None) -> SparkSession:
    return spark or build_session()
