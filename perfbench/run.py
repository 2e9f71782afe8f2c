"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload tail --seed 1 --seconds 10 --trace 0

The timed section is a fixed number of whole rounds of the workload,
``round(seconds / ROUND_S)`` with the workload's nominal round time, so
the operations a run attempts depend on its arguments alone.

Run from the root of a checkout of the engine. Everything the run writes
(inputs, lake tables, Spark scratch, the trace file) stays under
``.bench_work/`` and ``.bench_out/`` in that checkout. ``--trace 1`` wraps
the engine's public entry points with spans and prints per-layer metrics
instead of end-to-end ones; the spans are written to
``.bench_out/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from contextlib import contextmanager, nullcontext  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PARALLELISM_CAP = 2
DRIVER_MEM = "2g"


class Recorder:
    """Timed operations of one run: kind, wall seconds, events applied."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.ops: list[tuple[str, float, int]] = []

    @contextmanager
    def op(self, kind: str, events: int = 0):
        ctx = self.tracer.operation(len(self.ops), kind) if self.tracer else nullcontext()
        with ctx as sp:
            t0 = time.perf_counter()
            box = {"rows": None}
            yield box
            dt = time.perf_counter() - t0
        if sp is not None and box["rows"] is not None:
            sp.attrs["rows"] = box["rows"]
        self.ops.append((kind, dt, events))

    def samples(self, *kinds: str) -> list[float]:
        return [dt for k, dt, _ in self.ops if k in kinds]

    def events(self) -> int:
        return sum(n for _, _, n in self.ops)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Keep the JVM's and Python's temporary files inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM


def import_engine():
    """The engine package of this checkout, never an installed copy."""
    sys.path.insert(0, ROOT)
    import binlog_es_go_spark

    if os.path.dirname(os.path.dirname(os.path.abspath(binlog_es_go_spark.__file__))) != ROOT:
        raise SystemExit(f"engine imported from outside the checkout: {binlog_es_go_spark.__file__}")
    return binlog_es_go_spark


def gated_layers() -> list[str]:
    """The per-layer metrics BENCHMARK.json lists, in its order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)["per_layer"]]


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    import_engine()
    from perfbench import tracing, workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}")
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_environment(work)
    from binlog_es_go_spark.session import build_session

    spark = None
    try:
        t0 = time.perf_counter()
        cores = min(PARALLELISM_CAP, os.cpu_count() or 1)
        extra = {
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.ui.showConsoleProgress": "false",
        }
        if args.trace:
            extra.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
        spark = build_session(f"perfbench-{args.workload}", parallelism=cores, extra_conf=extra)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        session_ready = time.perf_counter() - T_START

        tracer = tracing.Tracer(spark, args.workload) if args.trace else None
        if tracer:
            tracer.install()
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed)
        rounds = wl.rounds_for(args.seconds)
        t0 = time.perf_counter()
        wl.prepare(rounds)
        prepare_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t0
        setup_s = session_ready + prepare_s + warmup_s

        rec = Recorder(tracer)
        t0 = time.perf_counter()
        for _ in range(rounds):
            wl.round(rec)
        timed_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        wl.check()
        check_s = time.perf_counter() - t0
        attempted = len(rec.ops)
        commits = wl.commit_samples(rec)
        reads = wl.read_samples(rec)
        end_to_end = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "events_per_s": {"value": rec.events() / timed_s, "unit": "1/s"},
            "commit_p50_s": {"value": statistics.median(commits), "unit": "s"},
            "read_p50_s": {"value": statistics.median(reads), "unit": "s"},
        }
        print(f"# {args.workload}: {rounds} rounds, {attempted} ops, {len(commits)} commit samples, "
              f"{len(reads)} read samples, {rec.events()} events in {timed_s:.3f} s; "
              f"session {session_s:.3f} s, inputs {prepare_s:.3f} s, warm-up {warmup_s:.3f} s, "
              f"check {check_s:.3f} s")
        print("# ops " + " ".join(f"{k}:{d:.3f}" for k, d, _ in rec.ops))
        metrics = end_to_end
        if tracer:
            tracer.finish()
            setup = {"session_start_s": session_s, "warmup_s": warmup_s}
            layers = tracing.layer_metrics(tracer.spans, setup)
            out_dir = os.path.join(ROOT, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"), {
                "layers": layers,
                "end_to_end": {k: v["value"] for k, v in end_to_end.items()},
                "job_counts": tracing.span_job_counts(tracer.spans),
            })
            units = {n: u for n, u, _ in tracing.LAYER_METRICS}
            for n in units:
                print(f"# {n:36s} per call {layers[n]['per_op']:.6g}  "
                      f"sum {layers[n]['sum']:.6g}  calls {layers[n]['calls']}")
            metrics = {n: {"value": layers[n]["per_op"], "unit": units[n]} for n in gated_layers()}
        print(json.dumps({"correct": True, "attempted": attempted, "failed": 0, "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
