#!/usr/bin/env python3
"""Dev-only harness simulating the driver's correctness gate.

Runs graft.Verify at a given SF dir, then executes each oracle SQL in
DuckDB over the same parquet tables and compares: schema (column names
sorted), row count, and values (rows sorted). Reports exact mismatches
and float near-misses separately so determinism bugs are visible before
the driver's round gate runs.

Usage: python3 scripts/oracle_check.py [sfdir] [outdir] [--skip-verify]

The `java` it starts inherits this process's environment, and SparkConf
reads `spark.*` system properties, so a session setting can be forced
without an option here. The forced-shuffle run, which takes the shuffle
side of every statistics-driven broadcast decision:

    JAVA_TOOL_OPTIONS=-Dspark.sql.autoBroadcastJoinThreshold=-1 \
        python3 scripts/oracle_check.py /root/testdata/sf0.01
"""
import json, math, struct, subprocess, sys, glob, os
from decimal import Decimal

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def run_verify():
    jars = ":".join(glob.glob("/opt/spark/jars/*.jar"))
    cp = f"/root/repo/target/scala-2.13/classes:{jars}"
    opens = []
    for p in ["java.base/java.lang","java.base/java.lang.invoke","java.base/java.lang.reflect",
              "java.base/java.io","java.base/java.net","java.base/java.nio","java.base/java.util",
              "java.base/java.util.concurrent","java.base/java.util.concurrent.atomic",
              "java.base/sun.nio.ch","java.base/sun.nio.cs","java.base/sun.security.action",
              "java.base/sun.util.calendar"]:
        opens += ["--add-opens", f"{p}=ALL-UNNAMED"]
    env = dict(os.environ, SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    cmd = ["java"] + opens + ["-Xmx8g", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graft.Verify", SF, OUT]
    r = subprocess.run(cmd, capture_output=True, text=True, env=env)
    sys.stdout.write(r.stdout[-3000:])
    sys.stderr.write(r.stderr[-5000:])
    if r.returncode != 0:
        # keep going so the per-query diff detail below is still shown,
        # but the gate MUST fail: Verify exits nonzero iff a registered
        # query errored (the round-4 q91 hole)
        print("VERIFY reported failures (rc=%d) — gate will fail" % r.returncode)
        return 1
    return 0

def norm(v):
    if isinstance(v, Decimal):
        return ("dec", str(v))
    if isinstance(v, float):
        # Sign-carrying BIT-PATTERN compare (round-11 lesson): the
        # driver's hasher renders -0.0 != 0.0 (and distinguishes NaN
        # payloads), but Python's == says -0.0 == 0.0 — which is exactly
        # how q163's -0.0 passed locally while the driver's gate was
        # red. Equality uses ONLY the raw IEEE bytes (keeping the raw
        # float in the tuple would make bit-identical NaNs compare
        # unequal, since nan != nan); close() recovers the float from
        # the bytes for the APPROX-ONLY near-miss diagnostic.
        return ("f", struct.pack(">d", v))
    if hasattr(v, "isoformat"):
        return ("t", v.isoformat())
    # Uniform type-tagged tuples keep mixed columns totally ordered:
    # a NULLable leading column (q209's full-outer click_id) otherwise
    # crashes Python's tuple sort on None < int. Tag "_null" sorts
    # before every data tag, consistently on both sides.
    if v is None:
        return ("_null",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, (bytes, bytearray)):
        return ("y", bytes(v))
    if isinstance(v, (list, tuple)):
        return ("l", tuple(norm(x) for x in v))
    return ("s", str(v))

def close(a, b):
    if isinstance(a, tuple) and isinstance(b, tuple) and a[0] == b[0] == "f":
        x, y = struct.unpack(">d", a[1])[0], struct.unpack(">d", b[1])[0]
        return math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-12)
    return a == b

def main():
    fails = 0
    if "--skip-verify" not in sys.argv:
        fails += run_verify()
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    oracle = json.load(open(f"{OUT}/oracle_sql.json"))
    # Ship-gate: every REGISTERED query must be green-checked. Queries
    # without oracle SQL (non-SQL-expressible ops) get a rows-only check;
    # a registered query with no output at all is a hard failure.
    try:
        registered = json.load(open(f"{OUT}/queries.json"))
    except FileNotFoundError:
        print("queries.json MISSING (stale Verify build?) — gate will fail")
        registered = []
        fails += 1
    for name in sorted(set(registered) - set(oracle)):
        pq = f"{OUT}/{name}"
        if not os.path.isdir(pq):
            print(f"{name}: MISSING spark output (registered, no oracle)"); fails += 1; continue
        try:
            n = con.sql(f"SELECT count(*) FROM '{pq}/*.parquet'").fetchone()[0]
        except Exception as e:
            print(f"{name}: ERROR reading output {e}"); fails += 1; continue
        if n <= 0:
            print(f"{name}: EMPTY output (rows-only check)"); fails += 1
        else:
            print(f"{name}: OK rows-only ({n} rows, no oracle SQL)")
    for name in sorted(set(oracle) - set(registered or oracle)):
        print(f"{name}: oracle SQL with NO registered query"); fails += 1
    for name, sql in sorted(oracle.items()):
        pq = f"{OUT}/{name}"
        if not os.path.isdir(pq):
            print(f"{name}: MISSING spark output"); fails += 1; continue
        try:
            got = con.sql(f"SELECT * FROM '{pq}/*.parquet'")
            got_cols = sorted(got.columns)
            gsel = ", ".join(f'"{c}"' for c in got_cols)
            got_rows = con.sql(f"SELECT {gsel} FROM '{pq}/*.parquet'").fetchall()
            exp = con.sql(sql)
            exp_cols = sorted(exp.columns)
            esel = ", ".join(f'"{c}"' for c in exp_cols)
            exp_rows = con.execute(f"SELECT {esel} FROM ({sql}) oq").fetchall()
        except Exception as e:
            print(f"{name}: ERROR {e}"); fails += 1; continue
        if got_cols != exp_cols:
            print(f"{name}: COLS mismatch spark={got_cols} duck={exp_cols}"); fails += 1; continue
        # The driver's hasher renders decimals inconsistently between the
        # Spark parquet and the DuckDB oracle — ban decimal output columns.
        dec_cols = [c for c, t in zip(got.columns, got.types) if "DECIMAL" in str(t).upper()]
        if dec_cols:
            print(f"{name}: DECIMAL OUTPUT (driver hash hazard): {dec_cols}"); fails += 1; continue
        # Round-11 class: DuckDB types sum(BIGINT) as HUGEINT (int128);
        # Spark emits int64. Python == says they match, the driver's
        # hasher renders them differently (q155/q167/q169 were red on
        # the driver while green here). Ban HUGEINT in the ORACLE's
        # output — the fix is always CAST(... AS BIGINT) in the SQL.
        huge_cols = [c for c, t in zip(exp.columns, exp.types)
                     if "HUGEINT" in str(t).upper() or "INT128" in str(t).upper()]
        if huge_cols:
            print(f"{name}: HUGEINT ORACLE OUTPUT (driver hash hazard): {huge_cols}"); fails += 1; continue
        dec_oracle = [c for c, t in zip(exp.columns, exp.types) if "DECIMAL" in str(t).upper()]
        if dec_oracle:
            print(f"{name}: DECIMAL ORACLE OUTPUT (driver hash hazard): {dec_oracle}"); fails += 1; continue
        g = sorted([tuple(norm(v) for v in r) for r in got_rows])
        e = sorted([tuple(norm(v) for v in r) for r in exp_rows])
        if len(g) != len(e):
            print(f"{name}: ROWS {len(g)} vs {len(e)}"); fails += 1; continue
        exact = g == e
        if exact:
            print(f"{name}: OK ({len(g)} rows)")
        else:
            bad = [(a, b) for a, b in zip(g, e) if a != b]
            approx = all(len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
                         for a, b in bad)
            tag = "APPROX-ONLY (float ulps)" if approx else "VALUES MISMATCH"
            print(f"{name}: {tag}; first diff: {bad[0] if bad else '?'}")
            fails += 1
    print("FAILS:", fails)
    sys.exit(1 if fails else 0)

main()
