#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as one JSON line.

    python3 perfbench/run.py --workload etl_replay --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source (``sbt`` in this
directory, cached on a fingerprint of the sources), generates the
workload's inputs from the seed (cached per seed), runs the JVM harness
once, checks every output against computations made apart from the
engine and prints ``{"correct", "attempted", "failed", "metrics"}`` as
the last line of standard output. ``--trace 0`` prints the end-to-end
metrics, ``--trace 1`` the per-layer ones.

Workloads: ``etl_replay``, ``parity_queries`` and ``analytics_heads``
(see README.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

#: generator sizes per workload
SIZES = {
    "etl_replay": {"n_farmers": 1000, "n_batches": 16, "batch_rows": 500},
    "parity_queries": {"sf": 0.01, "n_docs": 500, "n_emb": 500},
    "analytics_heads": {"sf": 0.01, "n_docs": 100, "n_emb": 100},
}

END_TO_END = {"pass_s": "s", "output_mb": "MiB", "setup_s": "s", "live_heap_mb": "MiB"}

PER_LAYER = {
    "EtlRun.jobs": "count", "EtlRun.tasks": "count", "EtlRun.job_s": "s",
    "EtlRun.driver_s": "s", "EtlRun.gc_s": "s", "EtlRun.shuffle_mb": "MiB",
    "EtlRun.rows": "count", "ChangeLog.extract_s": "s", "Merge.merge_s": "s",
    "Merge.publish_s": "s", "Merge.output_mb": "MiB", "Readers.input_mb": "MiB",
    "Queries.construct_s": "s", "Queries.plan_s": "s", "Queries.exec_s": "s",
    "Queries.shuffle_mb": "MiB", "Queries.spill_mb": "MiB", "Queries.gc_s": "s",
    "Queries.jobs": "count", "Queries.stages": "count", "Queries.tasks": "count",
    "Materialize.jobs": "count", "host.canary_s": "s", "host.steal_pct": "%",
    "host.wall_pass_s": "s", "trace.work_s": "s", "warmup_s": "s",
}

#: the analytics heads (``Workloads.heads`` in the harness), each with
#: figures of its own in the traced run
HEADS = ["dedup_apss_cosine", "text_kn5_score", "er_golden_record", "media_frames"]
PER_LAYER.update((f"{q}.{n}", u) for q in HEADS for n, u in (
    ("s", "s"), ("construct_s", "s"), ("jobs", "count"), ("tasks", "count"),
    ("shuffle_mb", "MiB")))

#: JVM flags Spark needs on JDK 17 outside spark-submit
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

#: a run must end within this many seconds, not counting the build
RUN_LIMIT = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fingerprint(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs
                           if f.endswith((".scala", ".sbt", ".properties", ".py")))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def environment():
    """The process environment, with the offline build settings and the
    loopback Spark address a sandboxed machine needs where they are unset."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if os.path.exists(repos) else ""))
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    return env


def build():
    """Classpath of the engine plus harness, compiling when sources changed."""
    stamp = fingerprint([os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
                         os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
                         os.path.join(HERE, "project"), os.path.join(HERE, "src")])
    cached = os.path.join(WORK, "classpath.json")
    if os.path.exists(cached):
        with open(cached) as f:
            got = json.load(f)
        if got["stamp"] == stamp:
            return got["classpath"]
    log("building the engine and the harness with sbt")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, capture_output=True, text=True, timeout=840,
                       env=environment())
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit("build failed")
    os.makedirs(WORK, exist_ok=True)
    with open(cached, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, f)
    return lines[-1]


def java(classpath, args, work, timeout):
    """Runs the harness; its output goes to ``<work>/jvm.log``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Xmx3g", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
              "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main"] + args)
    with open(os.path.join(work, "jvm.log"), "ab") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work,
                             env=environment())
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"harness did not finish within {timeout:.0f} s")
        except BaseException:  # a signal or an interrupt: leave no harness behind
            p.kill()
            p.wait()
            raise
    if rc != 0:
        with open(os.path.join(work, "jvm.log"), errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"harness exited with {rc}")


def meta(classpath):
    """The engine's catalog and oracle SQL, rewritten after each build."""
    path = os.path.join(WORK, "meta.json")
    stamp_path = path + ".stamp"
    with open(os.path.join(WORK, "classpath.json")) as f:
        stamp = f.read()
    if not (os.path.exists(path) and os.path.exists(stamp_path)
            and open(stamp_path).read() == stamp):
        java(classpath, ["meta", path], WORK, 120)
        with open(stamp_path, "w") as f:
            f.write(stamp)
    return gen.load_meta(path)


def inputs(workload, seed, m):
    """The seed's input directory, generated once and kept while the
    generator and sizes are unchanged; other seeds' inputs are removed."""
    d = os.path.join(WORK, f"{workload}-s{seed}")
    stamp = fingerprint([os.path.join(HERE, "gen.py")]) + json.dumps(SIZES[workload])
    stamp_path = os.path.join(d, "inputs.stamp")
    if os.path.exists(stamp_path) and open(stamp_path).read() == stamp:
        return d
    for old in os.listdir(WORK):
        if old.startswith(workload + "-s"):
            shutil.rmtree(os.path.join(WORK, old))
    os.makedirs(d)
    s = SIZES[workload]
    if workload == "etl_replay":
        gen.write_etl(os.path.join(d, "etl"), m, seed, **s)
    else:
        gen.write_query_tables(os.path.join(d, "data"), seed, **s)
    with open(stamp_path, "w") as f:
        f.write(stamp)
    return d


def clean_run(d):
    for sub in ("etl/target", "etl/snap", "etl/layer", "out", "tmp", "jvm.json", "jvm.log"):
        p = os.path.join(d, sub)
        if os.path.isdir(p):
            shutil.rmtree(p)
        elif os.path.exists(p):
            os.remove(p)


def ran(op):
    """Seconds the machine ran an operation: its wall time less the share
    of busy CPU time the hypervisor gave to other machines meanwhile."""
    return op["seconds"] * (1 - op["steal"])


def pass_seconds(ops, key, seconds=ran):
    """Median seconds per batch, or the sum of per-query medians."""
    if not ops:
        return None
    if key is None:
        return statistics.median(seconds(op) for op in ops)
    by = {}
    for op in ops:
        by.setdefault(op[key], []).append(seconds(op))
    return sum(statistics.median(v) for v in by.values())


def etl_result(m, d, r):
    checks = check.check_etl(m, os.path.join(d, "etl"), r["ops"])
    bad = [(op["batch"], p) for op, p in zip(r["ops"], checks) if p]
    for batch, problems in bad:
        log(f"batch {batch} failed: {'; '.join(problems)[:600]}")
    ok = [op for op, p in zip(r["ops"], checks) if not p]
    metrics = {
        "output_mb": statistics.median(op["publish_bytes"] for op in ok) / 1048576 if ok else None,
    }
    output_bad = sum(1 for op, p in zip(r["ops"], checks)
                     if p and not (op.get("error") or op.get("table_errors")))
    return len(r["ops"]), len(bad), output_bad, ok, None, metrics


def query_result(m, d, r, recompute):
    names = list(dict.fromkeys(op["query"] for op in r["ops"]))
    answers = check.oracle_answers(m, os.path.join(d, "data"), names,
                                   os.path.join(d, "oracle.pkl"), recompute)
    checks = check.check_queries(m, os.path.join(d, "data"), os.path.join(d, "out"),
                                 names, answers)
    for name, err in r.get("dump_errors", {}).items():
        checks[name] = checks.get(name) or err
    for name, problem in checks.items():
        if problem:
            log(f"{name} failed its check: {problem}")
    for op in r["ops"]:
        if op["error"]:
            log(f"{op['query']} pass {op['pass']} failed: {op['error']}")
    ok = [op for op in r["ops"] if not (op["error"] or checks.get(op["query"]))]
    out_bytes = sum(os.path.getsize(os.path.join(dp, f))
                    for dp, _, fs in os.walk(os.path.join(d, "out")) for f in fs)
    metrics = {"output_mb": out_bytes / 1048576}
    output_bad = sum(1 for op in r["ops"] if not op["error"] and checks.get(op["query"]))
    return len(r["ops"]), len(r["ops"]) - len(ok), output_bad, ok, "query", metrics


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--recompute-oracle", action="store_true",
                    help="recompute the cached DuckDB answers for this seed")
    a = ap.parse_args(argv)
    # a terminated run unwinds, so the build or harness it started is killed
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "pipeline", "EtlRun.scala")):
        raise SystemExit("the engine's sources are not next to the benchmark")

    classpath = build()
    start = time.monotonic()
    m = meta(classpath)
    d = inputs(a.workload, a.seed, m)
    clean_run(d)
    left = RUN_LIMIT - (time.monotonic() - start) - 20
    log(f"inputs ready after {time.monotonic() - start:.1f} s")
    java(classpath, ["run", a.workload, d, str(a.seconds), str(a.trace)], d, left)
    log(f"harness done after {time.monotonic() - start:.1f} s")
    with open(os.path.join(d, "jvm.json")) as f:
        r = json.load(f)

    if a.workload == "etl_replay":
        attempted, failed, output_bad, ok, key, metrics = etl_result(m, d, r)
    else:
        attempted, failed, output_bad, ok, key, metrics = query_result(
            m, d, r, a.recompute_oracle)
    metrics["pass_s"] = pass_seconds(ok, key)
    metrics["setup_s"] = statistics.median(ran(s) for s in r["setup_s"])
    metrics["live_heap_mb"] = r["live_heap_mb"]

    if a.trace:
        layers = dict(r["layers"], warmup_s=r["warmup_s"])
        if ok:
            layers["trace.work_s"] = metrics["pass_s"]
            layers["host.wall_pass_s"] = pass_seconds(ok, key, seconds=lambda op: op["seconds"])
            layers["host.steal_pct"] = 100 * statistics.median(op["steal"] for op in ok)
        shown = {n: {"value": layers.get(n, 0.0), "unit": u} for n, u in PER_LAYER.items()}
    else:
        if any(v is None for v in metrics.values()):
            raise SystemExit("no operation succeeded; nothing to report")
        shown = {n: {"value": metrics[n], "unit": u} for n, u in END_TO_END.items()}
    log(f"checked after {time.monotonic() - start:.1f} s")
    print(json.dumps({"correct": output_bad == 0, "attempted": attempted,
                      "failed": failed, "metrics": shown}))


if __name__ == "__main__":
    main()
