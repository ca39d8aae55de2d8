#!/usr/bin/env python3
"""Steadiness: runs each workload once per seed and reports, for every
end-to-end metric, its median, quartiles and spread (the distance
between the quartiles as a share of the median) against the bound in
BENCHMARK.json, and the share of failed operations.

    python3 perfbench/steady.py --seeds 1-10
    python3 perfbench/steady.py --workloads etl_replay --seeds 1-5 --trace

Beside the reported (steal-corrected) ``pass_s`` and ``setup_s`` it
shows the same figures from raw wall time (``raw pass_s``, ``raw
setup_s``), read from each run's ``jvm.json``, so the two spreads can be
compared. ``--trace`` also makes one traced run per seed and reports
the tracing overhead: the traced run's ``trace.work_s`` against the
untraced ``pass_s`` of the same seed.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run as harness  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def raw(workload, seed):
    """pass_s and setup_s of the run just made, from raw wall time."""
    with open(os.path.join(harness.WORK, f"{workload}-s{seed}", "jvm.json")) as f:
        r = json.load(f)
    ops = [op for op in r["ops"] if not op.get("error") and not op.get("table_errors")]
    key = None if workload == "etl_replay" else "query"
    wall = lambda op: op["seconds"]  # noqa: E731
    return {"raw pass_s": harness.pass_seconds(ops, key, seconds=wall),
            "raw setup_s": statistics.median(wall(s) for s in r["setup_s"])}


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace))]
    t0 = time.monotonic()
    r = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} exited with {r.returncode}")
    return dict(json.loads(r.stdout.strip().splitlines()[-1]), wall=time.monotonic() - t0)


def summary(values, bound):
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    spread = (q3 - q1) / med if med else float("inf")
    return {"median": med, "q1": q1, "q3": q3, "spread": spread, "bound": bound,
            "within_third": spread < bound / 3, "values": values}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--out", default=os.path.join(HERE, ".work", "steady.json"))
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for w in a.workloads:
        results = {}
        for s in seeds(a.seeds):
            results[s] = run(w, s, a.seconds, False)
            results[s]["raw"] = raw(w, s)
            print(f"{w} seed {s} ({results[s]['wall']:.0f} s): " + json.dumps(
                {k: round(v["value"], 4) for k, v in results[s]["metrics"].items()}),
                file=sys.stderr, flush=True)
        rows = {name: summary([r["metrics"][name]["value"] for r in results.values()], b)
                for name, b in bounds.items()}
        rows.update((name, summary([r["raw"][name] for r in results.values()],
                                   bounds[name.split()[1]]))
                    for name in ("raw pass_s", "raw setup_s"))
        shares = {s: r["failed"] / r["attempted"] for s, r in results.items()}
        report[w] = {"metrics": rows, "failed_share": shares,
                     "run_wall_s": statistics.median(r["wall"] for r in results.values()),
                     "correct": all(r["correct"] for r in results.values())}
        if a.trace:
            overhead = {}
            for s in seeds(a.seeds):
                traced = run(w, s, a.seconds, True)["metrics"]["trace.work_s"]["value"]
                overhead[s] = traced / results[s]["metrics"]["pass_s"]["value"] - 1
            report[w]["trace_overhead"] = overhead
    os.makedirs(os.path.dirname(a.out), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(report, f, indent=1)
    for w, r in report.items():
        print(f"== {w}  correct={r['correct']}  failed share="
              f"{sorted(set(r['failed_share'].values()))}  median run {r['run_wall_s']:.0f} s")
        for name, m in r["metrics"].items():
            print(f"  {name:14s} median {m['median']:.4g}  q1 {m['q1']:.4g}  q3 {m['q3']:.4g}"
                  f"  spread {m['spread']:.3f}  bound {m['bound']}"
                  f"{'' if m['within_third'] else '  (spread not below a third of the bound)'}")
        if "trace_overhead" in r:
            print("  trace overhead " + ", ".join(
                f"seed {s}: {v:+.1%}" for s, v in r["trace_overhead"].items()))


if __name__ == "__main__":
    main()
