#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate: run graft.Verify on a
scale dir, then run each oracle SQL in DuckDB over the same parquet
tables and compare result sets (columns sorted by name, rows sorted,
exact value equality). Dev tooling only — not part of the library.

Usage: python3 tools/check.py [sf_dir] [--skip-verify] [names...]
Verify runs at SPARK_GRAFT_CPUS cores, default `nproc`.
"""
import json, math, os, subprocess, sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = "/tmp/graft_verify_out"
ONLY = [a for a in sys.argv[2:] if not a.startswith("-")]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

def run_verify():
    cp = f"/opt/spark/jars/*:{REPO}/target/scala-2.13/classes"
    cmd = ["java"] + [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx8g", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "graft.Verify", SF, OUT] + ONLY
    # Verify runs at the caller's width: SPARK_GRAFT_CPUS, else every
    # core this process may run on (what `nproc` prints)
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    r = subprocess.run(cmd, capture_output=True, text=True, env=env)
    for line in r.stderr.splitlines():
        if "[verify]" in line or "Exception" in line:
            print("  !", line)
    if r.returncode != 0:
        print(r.stderr[-3000:])
        sys.exit(1)

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        out.append(tuple(norm(row[i]) for i in order))
    out.sort(key=lambda r: tuple((v is None, str(v)) for v in r))
    return [cols[i] for i in order], out

def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v

def values_eq(a, b):
    if isinstance(a, float) and isinstance(b, (float, int)):
        if a == b:
            return True
        return abs(a - b) <= 1e-12 * max(1.0, abs(a), abs(b))
    return a == b or str(a) == str(b)

def main():
    if "--skip-verify" not in sys.argv:
        print(f"== running graft.Verify on {SF}")
        run_verify()
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    oracle = json.load(open(f"{OUT}/oracle_sql.json"))
    names = ONLY or sorted(os.listdir(OUT))
    n_pass = n_fail = n_rowsonly = 0
    for name in names:
        if name == "oracle_sql.json" or name.startswith("."):
            continue
        path = f"{OUT}/{name}"
        if not os.path.isdir(path):
            continue
        got = con.execute(f"SELECT * FROM '{path}/*.parquet'")
        g_cols = [d[0] for d in got.description]
        g_rows = got.fetchall()
        if name not in oracle:
            print(f"  ~ {name}: rows-only ({len(g_rows)} rows)")
            n_rowsonly += 1
            continue
        try:
            exp = con.execute(oracle[name])
            e_cols = [d[0] for d in exp.description]
            e_rows = exp.fetchall()
        except Exception as e:
            print(f"  ✗ {name}: ORACLE SQL ERROR: {e}")
            n_fail += 1
            continue
        gc, gr = canon(g_rows, g_cols)
        ec, er = canon(e_rows, e_cols)
        if gc != ec:
            print(f"  ✗ {name}: column mismatch spark={gc} oracle={ec}")
            n_fail += 1
            continue
        if len(gr) != len(er):
            print(f"  ✗ {name}: row count spark={len(gr)} oracle={len(er)}")
            n_fail += 1
            continue
        bad = None
        exact = True
        for i, (a, b) in enumerate(zip(gr, er)):
            if a != b:
                if all(values_eq(x, y) for x, y in zip(a, b)):
                    exact = False
                else:
                    bad = (i, a, b)
                    break
        if bad:
            i, a, b = bad
            print(f"  ✗ {name}: row {i} differs\n    spark : {a}\n    oracle: {b}")
            n_fail += 1
        elif not exact:
            print(f"  ⚠ {name}: matches only within 1e-12 (not bit-exact) "
                  f"({len(gr)} rows)")
            n_pass += 1
        else:
            print(f"  ✓ {name} ({len(gr)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
