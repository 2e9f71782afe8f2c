"""Steadiness report: run each workload in two sets of runs and compare.

    python3 perfbench/steady.py --runs 10 --sets 2 --traced 2 --out .bench_out/steady.json

For every end-to-end metric in BENCHMARK.json and every workload it
prints, per set, the median, the quartiles and the quartile spread as a
share of the median, and whether the sets agree: each spread within the
metric's bound, and the later set's median within the bound of the
first's, in either direction. The spread of ``setup_s`` is printed but
not gated: set-up holds the one cold start of a fresh JVM per run, which
cannot be repeated inside a run to take a median. Runs of different
workloads are interleaved, and every run gets its own seed.

Each run's wall time and the host's CPU steal during it (the share of
busy CPU time stolen by the hypervisor, from ``/proc/stat`` where it
exists) are printed beside its metrics, so that slow runs can be told
apart from slow code.

``--traced N`` adds N traced runs per workload on one seed: their Spark
job counts per span must be identical, and their end-to-end figures
against the untraced medians give the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cpu_times() -> list[int] | None:
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def steal_share(a: list[int] | None, b: list[int] | None) -> float:
    """Stolen share of busy CPU time between two /proc/stat readings."""
    if a is None or b is None or len(a) < 8:
        return float("nan")
    d = [y - x for x, y in zip(a, b)]
    busy = sum(d) - d[3] - d[4]  # minus idle and iowait
    return d[7] / busy if busy > 0 else 0.0


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    c0, t0 = cpu_times(), time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall, steal = time.perf_counter() - t0, steal_share(c0, cpu_times())
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    out = json.loads(lines[-1])
    out["host"] = {"wall_s": wall, "steal": steal}
    return out


def summarize(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "values": values}


def worse_by(a: float, b: float, better: str) -> float:
    """How much worse b is than a, as a share of a (negative: better)."""
    return (b - a) / a if better == "lower" else (a - b) / a


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--sets", type=int, default=2)
    p.add_argument("--traced", type=int, default=0)
    p.add_argument("--workloads", nargs="*")
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--out")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = args.workloads or [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    results: dict[str, list[list[dict]]] = {w: [] for w in names}
    seed = args.first_seed
    for s in range(args.sets):
        for w in names:
            results[w].append([])
        for _ in range(args.runs):
            for w in names:
                r = run_once(w, seed, seconds, 0)
                results[w][s].append(r)
                print(f"set {s + 1} {w} seed {seed}: " + ", ".join(
                    f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
                    + f"; wall {r['host']['wall_s']:.1f} s, steal {r['host']['steal']:.2f}",
                    flush=True)
            seed += 1

    report = {"run_seconds": seconds, "workloads": {}}
    ok = True
    for w in names:
        rep = {}
        shares = {(r["failed"] / r["attempted"]) for runs in results[w] for r in runs}
        if len(shares) > 1:
            ok = False
        rep["failed_share"] = sorted(shares)
        rep["host"] = [[r["host"] for r in runs] for runs in results[w]]
        for m in bench["end_to_end"]:
            n, bound = m["name"], m["bound"]
            sets = [summarize([r["metrics"][n]["value"] for r in runs]) for runs in results[w]]
            steady = n == "setup_s" or all(x["spread"] <= bound for x in sets)
            drift = [worse_by(sets[0]["median"], x["median"], m["better"]) for x in sets[1:]]
            agree = steady and all(abs(d) <= bound for d in drift)
            ok &= agree
            rep[n] = {"sets": sets, "drift": drift, "bound": bound, "agree": agree}
            print(f"{w:9s} {n:13s} " + " | ".join(
                f"median {x['median']:.4g} q1 {x['q1']:.4g} q3 {x['q3']:.4g} "
                f"spread {x['spread']:.3f}" for x in sets)
                + f" | drift {', '.join(f'{d:+.3f}' for d in drift)} bound {bound}"
                + f" -> {'ok' if agree else 'NOT STEADY'}")
        report["workloads"][w] = rep
        for s, runs in enumerate(results[w]):
            print(f"{w:9s} set {s + 1} host: median wall "
                  f"{statistics.median(r['host']['wall_s'] for r in runs):.1f} s, steal per run "
                  + " ".join(f"{r['host']['steal']:.2f}" for r in runs))

    if args.traced:
        for w in names:
            counts, traced = [], []
            for _ in range(args.traced):
                run_once(w, args.first_seed, seconds, 1)
                with open(os.path.join(ROOT, ".bench_out", f"trace-{w}-{args.first_seed}.json")) as f:
                    summary = json.load(f)["summary"]
                counts.append(summary["job_counts"])
                traced.append(summary["end_to_end"])
            same = all(c == counts[0] for c in counts)
            ok &= same
            overhead = {}
            for m in bench["end_to_end"]:
                n = m["name"]
                untraced = statistics.median(
                    r["metrics"][n]["value"] for runs in results[w] for r in runs)
                overhead[n] = worse_by(untraced, statistics.median(t[n] for t in traced),
                                       m["better"])
            report["workloads"][w]["traced"] = {"job_counts_identical": same,
                                                "overhead": overhead}
            print(f"{w:9s} traced x{args.traced}: job counts per span identical: {same}; "
                  "overhead " + ", ".join(f"{k} {v:+.3f}" for k, v in overhead.items()))
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    print("STEADY" if ok else "NOT STEADY")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
