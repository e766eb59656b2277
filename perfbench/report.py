"""Pure parts of the benchmark: percentiles, interval unions, counter
deltas, query orders, and the metrics computed from the JVM's run record.

Times in a run record are epoch milliseconds (floats). Nothing here
touches the file system or the program; `test_report.py` covers it.
"""
import math
import random
import statistics

# --- percentiles -----------------------------------------------------------

def percentile(values, p):
    """Nearest-rank p-th percentile of `values` (p in 0..100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def supported_percentile(n, cap=90):
    """The highest whole percentile, at most `cap`, that leaves at least
    ten of `n` samples above it under the nearest-rank rule; None when
    the sample is too small for any percentile to have ten beyond it."""
    for p in range(cap, 0, -1):
        if n - math.ceil(p / 100.0 * n) >= 10:
            return p
    return None


# --- intervals -------------------------------------------------------------

def interval_union(intervals):
    """Merge (start, end) intervals into disjoint, sorted intervals."""
    merged = []
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if merged and s <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], e)
        else:
            merged.append([s, e])
    return [tuple(m) for m in merged]


def covered(intervals, window):
    """Length of `window` covered by the union of `intervals`."""
    ws, we = window
    return sum(max(0.0, min(e, we) - max(s, ws)) for s, e in interval_union(intervals))


# --- counters ----------------------------------------------------------------

def counter_delta(before, after):
    """Per-key growth of monotonic counters between two readings. A key
    that fell was reset in between, so its whole after-value is growth;
    a key missing before started at zero."""
    out = {}
    for k, a in after.items():
        b = before.get(k, 0.0)
        out[k] = a - b if a >= b else a
    return out


# --- workload inputs ---------------------------------------------------------

def query_orders(queries, seed, passes):
    """The warm-up order followed by `passes` timed-pass orders: each a
    permutation of `queries` drawn from `seed` alone."""
    rng = random.Random(seed)
    orders = []
    for _ in range(passes + 1):
        order = sorted(queries)
        rng.shuffle(order)
        orders.append(order)
    return orders


# --- metrics -------------------------------------------------------------------

STORE_COUNTS = ["pages_fetched", "blocks_skipped", "conn_dialed", "stats_served",
                "stat_builds", "vector_reads", "vector_rows_decoded", "projected_reads",
                "files_read", "files_written", "cache_evictions", "versions_published",
                "mor_fast_steps"]

MB = 1e6


def median(xs):
    return statistics.median(xs) if xs else 0.0


def steady_passes(record, traced=False):
    """The timed passes that metrics are taken over, traced or untraced:
    all but the first. The JIT compiles through the whole run, so pass
    times keep falling slowly; the first timed pass is the one it slows
    most. Over twenty runs of each workload, taking every later pass
    instead of the second half of the passes held the spread of pass_s
    on store_read and cut it from 0.14 to 0.07 on curation_streaming,
    which fits only eight passes in a run."""
    return [p for p in record["passes"] if p["traced"] == traced and p["pass"] >= 1]


def app_cpu_s(p):
    """CPU seconds of one pass in the driver and executor threads: the
    process's CPU time less that of the JIT compiler and GC threads,
    which over a pass swings with compile queues and marking cycles."""
    d = counter_delta(p["jvm_before"], p["jvm_after"])
    return (d["cpu_ns"] - d.get("jit_cpu_ns", 0.0) - d.get("gc_cpu_ns", 0.0)) / 1e9


# The reference round time that scaled metrics are expressed at: about
# what one round takes on a quiet 4-core host.
REFERENCE_MS = 60.0


def machine_factor(record):
    """How slowly the machine ran through the timed phase, against
    REFERENCE_MS: the lower quartile of the reference rounds taken
    between the timed passes, divided by REFERENCE_MS. The lower
    quartile follows the host's speed, which drifts over minutes, and
    leaves out the rounds that the JVM's own background work (JIT
    compiles, concurrent GC) slowed."""
    rounds = [r for p in record["passes"] for r in p["reference_ms"]]
    return statistics.quantiles(rounds, n=4)[0] / REFERENCE_MS


def end_to_end(record):
    """End-to-end metrics over the steady untraced passes. The times a
    host's drift stretches (setup_s, pass_s, query_p50_ms, cpu_s_per_pass
    and the logged query_p90_ms) are scaled to the reference speed;
    their measured values are logged as measured_*."""
    passes = steady_passes(record)
    idx = {p["pass"] for p in passes}
    lat = [e["end"] - e["start"] for e in record["executions"] if e["pass"] in idx]
    measured = {
        "setup_s": (record["setup_end"] - record["jvm_start"]) / 1e3,
        "pass_s": median([(p["end"] - p["start"]) / 1e3 for p in passes]),
        "query_p50_ms": percentile(lat, 50),
        "query_p90_ms": percentile(lat, 90),
        "cpu_s_per_pass": median([app_cpu_s(p) for p in passes]),
    }
    factor = machine_factor(record)
    out = {k: v / factor for k, v in measured.items()}
    out.update({"measured_" + k: v for k, v in measured.items() if k != "query_p90_ms"})
    out.update({
        "live_heap_mb": record["live_heap_bytes"] / MB,
        "reference_ms": factor * REFERENCE_MS,
    })
    return out


def spans(record, passes):
    """The trace of the given passes as spans: one per query execution
    with build, plan and exec children, one per Spark job and one per
    stream batch. A span's parent is the innermost span that contains
    its start; spans of one execution share its query id."""
    out = []
    idx = {p["pass"] for p in passes}
    inside = lambda x: any(p["start"] <= x["start"] <= p["end"] for p in passes)
    for n, e in enumerate(x for x in record["executions"] if x["pass"] in idx):
        if e["built"] is None or e["planned"] is None:
            continue
        qid = f"{e['pass']}:{e['query']}"
        out.append({"id": f"q{n}", "name": "query", "start": e["start"], "end": e["end"],
                    "parent": None, "query": qid})
        for name, s, t in (("build", e["start"], e["built"]),
                           ("plan", e["built"], e["planned"]),
                           ("exec", e["planned"], e["end"])):
            out.append({"id": f"q{n}.{name}", "name": name, "start": s, "end": t,
                        "parent": f"q{n}", "query": qid})
    for b in filter(inside, record["batches"]):
        out.append({"id": f"b{b['run']}.{b['batch']}", "name": "batch",
                    "start": b["start"], "end": b["end"], "parent": None, "query": None})
    for j in filter(inside, record["jobs"]):
        out.append({"id": f"j{j['id']}", "name": "job", "start": j["start"], "end": j["end"],
                    "parent": None, "query": None})
    # Parents for batches and jobs: the innermost containing span by
    # start time (jobs nest in batches, both nest in build/exec phases).
    order = {"query": 0, "build": 1, "plan": 1, "exec": 1, "batch": 2, "job": 3}
    frames = [s for s in out if s["name"] != "query"]
    for s in out:
        if s["name"] not in ("batch", "job"):
            continue
        best = None
        for f in frames:
            if f is s or order[f["name"]] >= order[s["name"]]:
                continue
            if f["start"] <= s["start"] < f["end"]:
                if best is None or order[f["name"]] > order[best["name"]]:
                    best = f
        if best is not None:
            s["parent"] = best["id"]
            s["query"] = best["query"]
    return out


def self_times(span_list):
    """Per span name, the summed self time: each span's duration minus
    the part of it that its children cover."""
    children = {}
    for s in span_list:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    totals = {}
    for s in span_list:
        own = (s["end"] - s["start"]) - covered(children.get(s["id"], []), (s["start"], s["end"]))
        totals[s["name"]] = totals.get(s["name"], 0.0) + own
    return totals


def pass_layers(record, p):
    """Per-layer metrics of one traced pass."""
    window = (p["start"], p["end"])
    execs = [e for e in record["executions"] if e["pass"] == p["pass"]]
    jobs = [j for j in record["jobs"] if window[0] <= j["start"] <= window[1]]
    batches = [b for b in record["batches"] if window[0] <= b["start"] <= window[1]]
    job_iv = [(j["start"], j["end"]) for j in jobs]
    ok = [e for e in execs if e["built"] is not None and e["planned"] is not None]
    lis = counter_delta(p["listener_before"], p["listener_after"])
    store = counter_delta(p["store_before"], p["store_after"])
    # The newest version falls when its table is dropped, which is not
    # a counter reset: count only its growth.
    store["versions_published"] = max(0.0, p["store_after"].get("newest_version", 0.0)
                                      - p["store_before"].get("newest_version", 0.0))
    jvm = counter_delta(p["jvm_before"], p["jvm_after"])
    cores = record["cores"]
    job_ms = covered(job_iv, window)
    m = {
        "entry.build_ms": sum(e["built"] - e["start"] for e in ok),
        "entry.build_jobs": sum(1 for j in jobs
                                for e in ok if e["start"] <= j["start"] < e["built"]),
        "entry.plan_ms": sum(e["planned"] - e["built"] for e in ok),
        "entry.exec_ms": sum(e["end"] - e["planned"] for e in ok),
        "entry.driver_only_ms": sum((e["end"] - e["start"]) - covered(job_iv, (e["start"], e["end"]))
                                    for e in execs),
        "exec.jobs": len(jobs),
        "exec.stages": lis.get("stages", 0.0),
        "exec.tasks": lis.get("tasks", 0.0),
        "exec.job_ms": job_ms,
        "exec.task_run_ms": lis.get("task_run_ms", 0.0),
        "exec.task_cpu_ms": lis.get("task_cpu_ms", 0.0),
        "exec.task_gc_ms": lis.get("task_gc_ms", 0.0),
        "exec.shuffle_read_mb": lis.get("shuffle_read_bytes", 0.0) / MB,
        "exec.shuffle_write_mb": lis.get("shuffle_write_bytes", 0.0) / MB,
        "exec.input_records": lis.get("input_records", 0.0),
        "exec.spill_mb": lis.get("spill_bytes", 0.0) / MB,
        "exec.core_busy_frac": (lis.get("task_run_ms", 0.0) / (job_ms * cores)) if job_ms else 0.0,
    }
    for k in STORE_COUNTS:
        m["store." + k] = store.get(k, 0.0)
    dialed, reused = store.get("conn_dialed", 0.0), store.get("conn_reused", 0.0)
    m["store.conn_reuse_ratio"] = reused / (dialed + reused) if dialed + reused else 0.0
    m["store.cache_resident_mb"] = p["store_after"].get("cache_resident_bytes", 0.0) / MB
    m["store.retained_versions"] = p["store_after"].get("retained_versions", 0.0)
    m["store.live_rows"] = p["store_after"].get("live_rows", 0.0)

    dur = [b["end"] - b["start"] for b in batches]
    phase = lambda *keys: sum(b["duration"].get(k, 0.0) for b in batches for k in keys)
    state_rows, state_bytes = {}, {}
    for b in batches:
        state_rows[b["run"]] = max(state_rows.get(b["run"], 0), b["state_rows"])
        state_bytes[b["run"]] = max(state_bytes.get(b["run"], 0), b["state_bytes"])
    overhead = 0.0
    for e in execs:
        inside = [d for b, d in zip(batches, dur) if e["start"] <= b["start"] < e["end"]]
        if inside:
            overhead += (e["end"] - e["start"]) - sum(inside)
    m.update({
        "stream.batches": len(batches),
        "stream.nodata_batches": sum(1 for b in batches if b["input_rows"] == 0),
        "stream.batch_p50_ms": percentile(dur, 50) if dur else 0.0,
        "stream.batch_p90_ms": percentile(dur, 90) if dur else 0.0,
        "stream.planning_ms": phase("queryPlanning"),
        "stream.add_batch_ms": phase("addBatch"),
        "stream.log_commit_ms": phase("walCommit", "commitOffsets"),
        "stream.source_ms": phase("latestOffset", "getBatch"),
        "stream.input_rows": sum(b["input_rows"] for b in batches),
        "stream.state_rows": sum(state_rows.values()),
        "stream.state_mem_mb": sum(state_bytes.values()) / MB,
        "stream.state_commit_ms": sum(b["state_commit_ms"] for b in batches),
        "stream.query_overhead_ms": overhead,
        "jvm.gc_ms": jvm.get("gc_ms", 0.0),
        "jvm.alloc_mb": jvm.get("alloc_bytes", 0.0) / MB,
        "jvm.jit_cpu_ms": jvm.get("jit_cpu_ns", 0.0) / 1e6,
        "jvm.gc_cpu_ms": jvm.get("gc_cpu_ns", 0.0) / 1e6,
    })
    return m


def per_layer(record):
    """Per-layer metrics of a traced run: each the median over the steady
    traced passes of its per-pass sum, plus self times per span kind and
    the tracing overhead against the run's steady untraced passes."""
    traced = steady_passes(record, traced=True)
    plain = steady_passes(record)
    rows = [pass_layers(record, p) for p in traced]
    out = {k: median([r[k] for r in rows]) for k in rows[0]}
    selfs = [self_times(spans(record, [p])) for p in traced]
    for name in ("build", "plan", "exec", "batch", "job"):
        out[f"self.{name}_ms"] = median([s.get(name, 0.0) for s in selfs])
    traced_s = median([(p["end"] - p["start"]) / 1e3 for p in traced])
    plain_s = median([(p["end"] - p["start"]) / 1e3 for p in plain])
    out["trace.pass_s"] = traced_s
    out["trace.overhead_s"] = traced_s - plain_s
    return out
