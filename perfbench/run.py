#!/usr/bin/env python3
"""Benchmark of the graft engine through `SparkEntry.queries`.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One JVM on local[nproc] runs one closed-loop client that issues a
workload's `SparkEntry.queries` one after another (see spec.json for
the workloads, the load shape and every metric's definition; names and
units are in BENCHMARK.json). The run:

1. builds the program from the repository's own sources with sbt
   (once per source fingerprint; perfbench/build.sbt adds the JVM harness);
2. writes a seeded copy of the sf0.1 tables (`GRAFT_BENCH_SOURCE`,
   default ~/testdata/sf0.1): same tables, schemas and physical types,
   only row order and row-group boundaries drawn from the seed; cached
   per seed under perfbench/.work/;
3. runs a warm-up pass that ends set-up, a second warm-up pass whose
   full results it checks against `SparkEntry.oracleSql` in DuckDB over
   the same copy, then timed passes for `--seconds` (at least
   MIN_PASSES), checking every execution's row count; the metrics are
   taken over every timed pass but the first, which the JIT slows most,
   and times are scaled to a reference speed measured between the
   passes (report.machine_factor);
4. prints one JSON line: end-to-end metrics with `--trace 0`, per-layer
   metrics with `--trace 1` (the traced run also writes its spans to
   perfbench/.work/traces/ and prints the workload's invariants).

Exit status is 0 when the run completed, whatever the outputs' check
found (reported as `correct`/`failed`), and 2 when it could not run.
"""
import argparse
import ast
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import report  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SPEC = json.load(open(os.path.join(HERE, "spec.json")))
# Metric names, units and directions: BENCHMARK.json is their only record.
BENCHMARK = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
SOURCE = os.environ.get("GRAFT_BENCH_SOURCE", os.path.expanduser("~/testdata/sf0.1"))
MAX_PASSES = 200
MIN_PASSES = 8
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 840


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --- build -------------------------------------------------------------------

def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    files += glob.glob(os.path.join(ROOT, "project", "*.*"))
    files += glob.glob(os.path.join(HERE, "project", "*.*"))
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Compile the program and the JVM harness; return the runtime classpath.

    sbt builds into the checkout's target directories, which the next
    build of other sources overwrites. So each build's class
    directories are copied to .work/build/<fingerprint>/, and the
    classpath a fingerprint maps to names only that copy and the
    (immutable) dependency jars."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise BenchError(f"program sources not found beside {HERE}")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(open(f, "rb").read())
    dst = os.path.join(WORK, "build", h.hexdigest()[:20])
    stamp = os.path.join(dst, "classpath")
    if os.path.isfile(stamp):
        cp = open(stamp).read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    log("building the program and the benchmark harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
                           f"-Dsbt.repository.config={repos}")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
                        "export perfbench/Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True,
                       timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-2000:])
        raise BenchError("sbt build failed")
    tmp = dst + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = []
    for i, p in enumerate(lines[-1].strip().split(os.pathsep)):
        if os.path.realpath(p).startswith(os.path.realpath(ROOT) + os.sep):
            copy = os.path.join(tmp, f"{i}-{os.path.basename(p)}")
            if os.path.isdir(p):
                shutil.copytree(p, copy)
            else:
                shutil.copy2(p, copy)
            p = os.path.join(dst, os.path.basename(copy))
        cp.append(p)
    with open(os.path.join(tmp, "classpath"), "w") as f:
        f.write(os.pathsep.join(cp))
    shutil.rmtree(dst, ignore_errors=True)
    os.replace(tmp, dst)
    return os.pathsep.join(cp)


# --- seeded input copy ---------------------------------------------------------

def seeded_copy(seed):
    """The sf0.1 tables with row order and row-group boundaries drawn
    from `seed`; written once per seed."""
    dst = os.path.join(WORK, "input", f"seed-{seed}")
    if os.path.isfile(os.path.join(dst, "_DONE")):
        return dst
    import numpy as np
    import pyarrow.parquet as pq
    missing = [t for t in TABLES if not os.path.isfile(os.path.join(SOURCE, f"{t}.parquet"))]
    if missing:
        raise BenchError(f"source tables missing under {SOURCE}: {missing}")
    tmp = dst + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for i, t in enumerate(TABLES):
        src = os.path.join(SOURCE, f"{t}.parquet")
        table = pq.read_table(src)
        rng = np.random.default_rng([seed, i])
        shuffled = table.take(rng.permutation(table.num_rows))
        groups = int(rng.integers(2, 9))
        out = os.path.join(tmp, f"{t}.parquet")
        pq.write_table(shuffled, out, row_group_size=max(1, -(-table.num_rows // groups)))
        if pq.ParquetFile(out).schema != pq.ParquetFile(src).schema:
            raise BenchError(f"seeded copy of {t} changed its parquet schema")
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(dst, ignore_errors=True)
    os.replace(tmp, dst)
    return dst


# --- the JVM run ---------------------------------------------------------------

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def heap():
    """The Spark driver heap, sized as the repository's tests size it."""
    return os.environ.get("SPARK_DRIVER_MEM", "8g")


def run_jvm(classpath, run_dir, args):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # A fixed set of JIT compiler threads, so that none exits with its
    # CPU time before the pass's reading that subtracts it.
    cmd += [f"-Xmx{heap()}", "-XX:-UseDynamicNumberOfCompilerThreads",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "graftbench.PerfMain"] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf, stderr=logf,
                                stdin=subprocess.DEVNULL)
        stop = lambda *_: (proc.kill(), proc.wait(), sys.exit(2))
        old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
            for s, h in old.items():
                signal.signal(s, h)
    if rc != 0:
        sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-4000:])
        raise BenchError("the benchmark JVM timed out" if rc is None
                         else f"the benchmark JVM exited with {rc}")
    return json.load(open(os.path.join(run_dir, "record.json")))


# --- output check ----------------------------------------------------------------

def oracle_norm():
    """`norm` from scripts/oracle_check.py, the repository's rule for
    comparing Spark and DuckDB values (that script runs on import, so
    only the function is taken from its source)."""
    path = os.path.join(ROOT, "scripts", "oracle_check.py")
    tree = ast.parse(open(path).read())
    keep = [n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "norm"]
    scope = {}
    exec("import struct\nfrom decimal import Decimal", scope)
    exec(compile(ast.Module(body=keep, type_ignores=[]), path, "exec"), scope)
    return scope["norm"]


def check_outputs(record, run_dir, input_dir):
    """Compare each warm-up result with its oracle SQL in DuckDB.
    Returns ({query: failure}, {query: expected row count})."""
    import duckdb
    norm = oracle_norm()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{input_dir}/{t}.parquet'")
    failures, expected = {}, {}
    for e in record["executions"]:
        if e["pass"] != -1:
            continue
        q = e["query"]
        if e["error"]:
            failures[q] = "failed: " + e["error"]
            continue
        pq = os.path.join(run_dir, "results", q)
        try:
            got = con.sql(f"SELECT * FROM '{pq}/*.parquet'")
            gcols = sorted(got.columns)
            got_rows = con.sql("SELECT " + ", ".join(f'"{c}"' for c in gcols)
                               + f" FROM '{pq}/*.parquet'").fetchall()
            sql = record["oracle_sql"].get(q)
            if sql is None:
                expected[q] = len(got_rows)
                if not got_rows:
                    failures[q] = "empty result and no oracle SQL"
                continue
            ecols = sorted(con.sql(sql).columns)
            exp_rows = con.execute("SELECT " + ", ".join(f'"{c}"' for c in ecols)
                                   + f" FROM ({sql}) oq").fetchall()
        except Exception as ex:  # a broken result or oracle is a failed check
            failures[q] = f"compare error: {ex}"
            continue
        expected[q] = len(exp_rows)
        if gcols != ecols:
            failures[q] = f"columns {gcols} != oracle {ecols}"
        elif len(got_rows) != len(exp_rows):
            failures[q] = f"{len(got_rows)} rows != oracle {len(exp_rows)}"
        elif sorted(tuple(map(norm, r)) for r in got_rows) != \
                sorted(tuple(map(norm, r)) for r in exp_rows):
            failures[q] = "values differ from the oracle"
    return failures, expected


# --- main --------------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPEC["workloads"]))
    ap.add_argument("--seed", type=int, default=SPEC["default_seed"])
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    wl = SPEC["workloads"][a.workload]

    t0 = time.time()
    classpath = build()
    input_dir = seeded_copy(a.seed)
    t1 = time.time()
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        orders = report.query_orders(wl["queries"], a.seed, MAX_PASSES)
        with open(os.path.join(run_dir, "orders.txt"), "w") as f:
            f.write("\n".join(",".join(o) for o in orders) + "\n")
        cores = len(os.sched_getaffinity(0))
        record = run_jvm(classpath, run_dir, [
            "--input", input_dir, "--out", run_dir,
            "--orders", os.path.join(run_dir, "orders.txt"),
            "--seconds", str(a.seconds), "--min-passes", str(MIN_PASSES),
            "--trace", str(a.trace), "--cores", str(cores)])
        t2 = time.time()
        failures, expected = check_outputs(record, run_dir, input_dir)
        log(f"phases: build+input {t1 - t0:.1f}s, jvm {t2 - t1:.1f}s, "
            f"output check {time.time() - t2:.1f}s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    # The checked warm-up is compared with the oracle; every other
    # execution must return the oracle's row count.
    failed = len(failures)
    for e in record["executions"]:
        if e["pass"] != -1 and (e["error"] or e["rows"] != expected.get(e["query"])):
            failed += 1
            failures.setdefault(e["query"], e["error"] or
                                f"{e['rows']} rows, expected {expected.get(e['query'])}")
    attempted = len(record["executions"])
    for q, why in sorted(failures.items()):
        log(f"FAILED {q}: {why}")

    timed = [e for e in record["executions"] if e["pass"] >= 0]
    warm = sorted(((e["end"] - e["start"]) / 1e3, e["query"]) for e in record["executions"]
                  if e["pass"] == -2)
    log("set-up pass s: " + ", ".join(f"{q.split('_')[0]} {s:.2f}" for s, q in warm[::-1]))
    by_q = {}
    for e in timed:
        by_q.setdefault(e["query"], []).append(e["end"] - e["start"])
    log("timed median ms: " + ", ".join(f"{q.split('_')[0]} {report.median(v):.0f}"
                                       for q, v in sorted(by_q.items())))
    log("pass s: " + ", ".join(f"{(p['end'] - p['start']) / 1e3:.2f}" for p in record["passes"]))
    values = report.end_to_end(record)
    values["error_rate"] = failed / attempted
    used = {p["pass"] for p in report.steady_passes(record)}
    n = sum(1 for e in timed if e["pass"] in used)
    p = report.supported_percentile(n)
    log(f"{a.workload} seed={a.seed}: {len(record['passes'])} timed passes, {len(used)} used, "
        f"{n} executions in them; {f'p{p} is the highest percentile with' if p else 'no percentile has'} "
        "ten samples beyond it")
    units = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"] + BENCHMARK["per_layer"]}
    units.update({k: v["unit"] for k, v in SPEC["logged"].items()})
    for k in [m["name"] for m in BENCHMARK["end_to_end"]] + sorted(SPEC["logged"]) + ["error_rate"]:
        log(f"  {k:16s} {values[k]:.4f} {units[k]}")
    if a.trace:
        values = dict(report.per_layer(record), error_rate=values["error_rate"])
        write_trace(a, record, values, wl)
        names = [m["name"] for m in BENCHMARK["per_layer"]]
    else:
        names = [m["name"] for m in BENCHMARK["end_to_end"]]
    unknown = [k for k in names if k not in values]
    if unknown:
        raise BenchError(f"BENCHMARK.json names metrics the benchmark does not compute: {unknown}")
    metrics = {k: {"value": values[k], "unit": units[k]} for k in names}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def write_trace(a, record, values, wl):
    """Keep the traced passes' spans, and print the trace report and the
    workload's invariants."""
    traced = [p for p in record["passes"] if p["traced"]]
    path = os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"spans": report.spans(record, traced), "metrics": values}, f)
    log(f"trace of {len(traced)} traced passes written to {os.path.relpath(path, ROOT)}")
    for k in sorted(values):
        log(f"  {k:28s} {values[k]:.4f}")
    per_pass = [report.pass_layers(record, p) for p in traced]
    for name in wl.get("zero_per_pass", []):
        keys = ["store." + k for k in report.STORE_COUNTS] if name == "store.*" else [name]
        bad = {k: r[k] for r in per_pass for k in keys if r[k] != 0}
        log(f"invariant {a.workload}: {name} == 0 per pass: "
            + ("holds" if not bad else f"BROKEN {bad}"))


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
