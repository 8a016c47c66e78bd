#!/usr/bin/env python3
"""Benchmark of the graft ETL engine: ingest freshness and a seeded query mix.

    python3 perfbench/run.py --workload {ingest,query,query_floor} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The first run builds the library and the
benchmark with sbt (offline) into `.bench_build/`, reused while the sources
are unchanged. The tables are the committed copies in `testdata/`. Every
run starts a fresh JVM. With `--trace 0` the last stdout line reports the
end-to-end metrics; with `--trace 1` it reports the per-layer metrics of a
traced run, preceded by an untraced run of the same seed that gives the
tracing overhead. README.md in this directory describes the workloads and
metrics.
"""
import argparse
import contextlib
import glob
import hashlib
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "testdata")
DEADLINE_S = 160.0
BUILD_TIMEOUT_S = 850.0
ORACLE_TIMEOUT_S = 30.0
WORKLOADS = ["ingest", "query", "query_floor"]
MODULES = ["Relational", "Scalars", "Streaming", "TextOps", "DedupOps",
           "SimilarityOps", "MultimodalOps", "ExtOps", "EventOps", "LinkOps",
           "SketchOps", "PrivacyOps", "TableOps", "EtlDemo"]
LAYERS = ["harness", "etl", "sources", "tablelog", "ops", "spark"]
STREAM_PHASES = [("latestOffset", "etl.load.latest_offset"),
                 ("walCommit", "etl.load.wal_commit"),
                 ("getBatch", "etl.load.get_batch"),
                 ("queryPlanning", "etl.load.query_planning"),
                 ("addBatch", "sources.add_batch"),
                 ("commitOffsets", "etl.load.commit_offsets")]
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def require_sources():
    need = ["build.sbt", "src/main/scala/graft", "tools/check.py",
            "perfbench/build.sbt", "perfbench/src"]
    missing = [p for p in need if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        raise BenchError("run from the root of a graft checkout; missing: "
                         + ", ".join(missing))


def build():
    """Compile library + benchmark once per source state; return the classpath."""
    stamp = tree_hash([os.path.join(ROOT, p) for p in
                       ["build.sbt", "project/build.properties", "src/main"]]
                      + [os.path.join(HERE, p) for p in
                         ["build.sbt", "project/build.properties", "src"]])
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       " -Dsbt.override.build.repos=true -Dsbt.offline=true").strip()
    log("perfbench: building library and benchmark (sbt, offline) ...")
    with open(os.path.join(WORK, "build.log"), "w") as out:
        proc = subprocess.Popen(["sbt", "-batch", "-Dsbt.log.noformat=true",
                                 "writeClasspath"], cwd=HERE, env=env, stdout=out,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                start_new_session=True)
        rc = wait_or_kill(proc, BUILD_TIMEOUT_S)
    if rc != 0:
        raise BenchError(f"build failed (exit {rc}); see .bench_build/build.log")
    with open(os.path.join(HERE, "target", "runtime-classpath.txt")) as f:
        cp = f.read().strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


CHILDREN = set()


def wait_or_kill(proc, timeout):
    CHILDREN.add(proc)
    try:
        return proc.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        kill(proc)
        return None
    finally:
        CHILDREN.discard(proc)


def kill(proc):
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def on_signal(signum, _frame):
    for proc in list(CHILDREN):
        kill(proc)
    sys.exit(128 + signum)


# ---------------------------------------------------------------- run

def cpu_times():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals[:8]), steal


def run_jvm(cp, args, trace, started, run_dir):
    cores = min(4, os.cpu_count() or 1)
    shutil.rmtree(run_dir, ignore_errors=True)
    out = os.path.join(run_dir, "out")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx4g", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(trace),
            "--data", DATA, "--out", out, "--cores", str(cores)]
    if args.inject == "duplicate-row":
        cmd += ["--inject", "duplicate-row"]
    total0, steal0 = cpu_times()
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        rc = wait_or_kill(proc, DEADLINE_S - (time.time() - started))
    total1, steal1 = cpu_times()
    record_path = os.path.join(out, "run.json")
    if rc != 0 or not os.path.exists(record_path):
        tail = open(os.path.join(run_dir, "jvm.log"), errors="replace").read()[-3000:]
        raise BenchError(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}"
                         f"; log tail:\n{tail}")
    rec = json.load(open(record_path))
    rec["steal_pct"] = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
    rec["nproc"] = os.cpu_count()
    rec["run_dir"] = run_dir
    spans = os.path.join(out, "spans.jsonl")
    rec["spans"] = [json.loads(l) for l in open(spans)] if os.path.exists(spans) else []
    return rec


# ---------------------------------------------------------------- checks

def merge_parts(src, dst):
    """Concatenate a result's part files in partition order into one file,
    the layout tools/check.py reads. Returns the row count."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    parts = sorted(glob.glob(os.path.join(src, "part-*.parquet")))
    t = pa.concat_tables([pq.read_table(f) for f in parts]) if parts else None
    os.makedirs(dst, exist_ok=True)
    if t is not None:
        pq.write_table(t, os.path.join(dst, "result.parquet"))
    return 0 if t is None else t.num_rows


def check_queries(rec, args):
    """Name every failing query: an exception, an oracle mismatch under
    tools/check.py's rules, or a row count that differs from the recorded
    one."""
    results = os.path.join(rec["run_dir"], "out", "results")
    oracles = json.load(open(os.path.join(results, "oracle_sql.json")))
    failures = {op["name"]: op["error"] for op in rec["ops"] if op["error"]}
    expected = json.load(open(os.path.join(HERE, "expected_rows.json"))).get(rec["scale"], {})
    todo = []
    for op in rec["ops"]:
        name = op["name"]
        case = os.path.join(rec["run_dir"], "check", name)
        op["rows"] = merge_parts(os.path.join(results, name), os.path.join(case, name))
        if name in failures:
            continue
        if name in oracles:
            with open(os.path.join(case, "oracle_sql.json"), "w") as f:
                json.dump({name: oracles[name]}, f)
            todo.append((name, case))
        elif expected.get(name) != op["rows"]:
            failures[name] = (f"rows {op['rows']} != recorded {expected[name]}"
                              if name in expected else
                              f"no oracle and no recorded row count ({op['rows']} rows)")
    if args.inject == "corrupt-result":
        corrupt_one(todo)

    for name, case in todo:
        why = oracle_check(case, rec["scale"])
        if why:
            failures[name] = why
    return failures


class _DuckShim:
    """Stands in for the duckdb module inside tools/check.py. It keeps the
    connection check.py opens, so that a slow oracle can be interrupted,
    and it serves each oracle's result from a cache: the tables are fixed,
    so an oracle's result depends only on its SQL."""
    def __init__(self, real):
        self.real, self.con, self.cache = real, None, None

    def connect(self, *args, **kwargs):
        self.con = _CachingConnection(self.real.connect(*args, **kwargs), self)
        return self.con

    def __getattr__(self, name):
        return getattr(self.real, name)


class _CachingConnection:
    def __init__(self, con, shim):
        self.con, self.shim = con, shim

    def __getattr__(self, name):
        return getattr(self.con, name)

    def sql(self, query):
        cache = self.shim.cache
        if cache is None or query.lstrip().upper().startswith("SELECT * FROM '"):
            return self.con.sql(query)
        path = os.path.join(cache, hashlib.sha256(query.encode()).hexdigest() + ".pkl")
        con = self.con

        class Cached:
            @staticmethod
            def df():
                import pandas as pd
                if os.path.exists(path):
                    return pd.read_pickle(path)
                df = con.sql(query).df()
                os.makedirs(cache, exist_ok=True)
                df.to_pickle(path + ".tmp")
                os.replace(path + ".tmp", path)
                return df
        return Cached


def oracle_check(case, scale):
    """Run tools/check.py's compare on one result; None when it passes."""
    import threading
    if "check" not in sys.modules:
        sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check
    if not isinstance(check.duckdb, _DuckShim):
        check.duckdb = _DuckShim(check.duckdb)
    check.duckdb.cache = os.path.join(WORK, "oracle-results", scale)
    fired = []
    timer = threading.Timer(ORACLE_TIMEOUT_S, lambda: (fired.append(1), check.duckdb.con.interrupt()))
    buf = io.StringIO()
    timer.start()
    try:
        with contextlib.redirect_stdout(buf):
            check.main(case, os.path.join(DATA, scale))
    finally:
        timer.cancel()
    first = (buf.getvalue().strip().splitlines() or [""])[0]
    if first.startswith("PASS "):
        return None
    if fired:
        return f"oracle check did not finish in {ORACLE_TIMEOUT_S:.0f} s"
    return "oracle mismatch: " + first.partition(": ")[2]


def corrupt_one(cases):
    """Test hook: change one value of the first non-empty oracle-checked result."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    for name, case in cases:
        path = os.path.join(case, name, "result.parquet")
        t = pq.read_table(path) if os.path.exists(path) else None
        if t is None or t.num_rows == 0:
            continue
        for i, field in enumerate(t.schema):
            col = t.column(i).to_pylist()
            v = col[0]
            if isinstance(v, (int, float, str)) and not isinstance(v, bool):
                col[0] = v + "x" if isinstance(v, str) else v + 1
                pq.write_table(t.set_column(i, field, pa.array(col, type=field.type)), path)
                return
    raise BenchError("corrupt-result: no oracle-checked result to corrupt")


def failures_of(rec, args):
    if rec["workload"] == "ingest":
        return {f.split(":")[0]: f.partition(": ")[2] for f in rec["failures"]}
    return check_queries(rec, args)


# ---------------------------------------------------------------- metrics

def quantile(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def end_to_end(rec):
    """The gated end-to-end metrics, and the per-operation latencies (blob
    freshness on ingest, query times otherwise), which are reported on an
    info line: their spread across seeds exceeds the largest bound."""
    if rec["workload"] == "ingest":
        return {
            "setup_s": (rec["setup_s"], "s"), "wall_s": (rec["wall_s"], "s"),
            "cpu_s": (rec["cpu_s"], "s"),
            "rows_per_s": (rec["backlog_rows"] / max(1e-9, rec["drain_s"]), "rows/s"),
        }, [f for f in rec["freshness_s"] if f is not None]
    ops = rec["ops"]
    wall = sum(o["wall_s"] for o in ops)
    return {
        "setup_s": (rec["setup_s"], "s"), "wall_s": (wall, "s"),
        "cpu_s": (sum(o["cpu_s"] for o in ops), "s"),
        "rows_per_s": (sum(o["rows"] for o in ops) / max(1e-9, wall), "rows/s"),
    }, [o["wall_s"] for o in ops]


def union_ms(intervals):
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def clip(iv, win):
    s, e = max(iv[0], win[0]), min(iv[1], win[1])
    return (s, e) if e > s else None


def stream_spans(rec):
    """Micro-batches from StreamingQueryProgress, with their phases laid
    out in execution order from the batch start."""
    spans = []
    for p in rec["spark"]["progress"]:
        d = p["duration_ms"]
        if p["input_rows"] <= 0 or "triggerExecution" not in d:
            continue
        s = p["start_ms"]
        run_id = p["run_id"]  # also the job group of the stream's jobs
        bid = f"b{run_id}-{p['batch_id']}"
        spans.append({"id": bid, "name": "etl.load.batch", "op": run_id, "parent": -1,
                      "start_ms": s, "end_ms": s + d["triggerExecution"]})
        t = s
        for key, name in STREAM_PHASES:
            if key in d:
                spans.append({"id": f"{bid}-{key}", "name": name, "op": run_id,
                              "parent": bid, "start_ms": t, "end_ms": t + d[key]})
                t += d[key]
    return spans


def self_times(spans, windows, thread_roots=()):
    """Per-layer self time of the spans that start in the timed windows:
    each span's duration minus the part of it covered by its children,
    summed over threads. Each timed window is a `harness` root of the
    main thread; each `(start, end, op)` in `thread_roots` is the
    `harness` root of another thread whose spans carry that op. A span
    without a recorded parent (a root on its thread, or one observed
    through a listener) takes the innermost longer span of its own
    operation that contains its start; a window root contains every
    operation except those of other thread roots. A span with no
    operation matches by time alone."""
    dur = lambda s: s["end_ms"] - s["start_ms"]
    spans = [dict(s) for s in spans]
    roots = [{"id": f"root{i}", "name": "harness.timed", "op": None, "parent": None,
              "start_ms": w[0], "end_ms": w[1]} for i, w in enumerate(windows)]
    roots += [{"id": f"thread{i}", "name": "harness.thread", "op": op, "parent": None,
               "start_ms": s, "end_ms": e} for i, (s, e, op) in enumerate(thread_roots)]
    own_root = {r["op"] for r in roots if r["op"] is not None}
    known = {s["id"] for s in spans}
    containers = sorted([s for s in spans if s["parent"] != -1] + roots, key=dur)

    def holds(c, s):
        if not c["start_ms"] <= s["start_ms"] < c["end_ms"]:
            return False
        if c["parent"] is None:
            return c["op"] == s["op"] or (c["op"] is None and s["op"] not in own_root)
        return dur(c) > dur(s) and (not s["op"] or c["op"] == s["op"])

    for s in spans:
        if s["parent"] not in known:
            s["parent"] = next((c["id"] for c in containers if holds(c, s)), None)
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {layer: 0.0 for layer in LAYERS}
    for s in spans + roots:
        iv = (s["start_ms"], s["end_ms"])
        kids = [c for c in (clip((k["start_ms"], k["end_ms"]), iv)
                            for k in children.get(s["id"], [])) if c]
        layer = s["name"].split(".")[0]
        if layer in out:
            out[layer] += (dur(s) - union_ms(kids)) / 1000.0
    return out


def per_layer(rec, untraced_wall):
    wl = rec["workload"]
    m = {}
    if wl == "ingest":
        windows = [(rec["timed_start_ms"], rec["timed_end_ms"])]
        thread_roots = [(rec["timed_start_ms"], rec["generator_end_ms"], "generator")]
    else:
        windows = [(o["start_ms"], o["end_ms"]) for o in rec["ops"]]
        thread_roots = []
    # the traced span: all of the timed phase (on ingest more than wall_s)
    span_s = sum(w[1] - w[0] for w in windows) / 1000.0
    in_win = lambda t: any(w[0] <= t < w[1] for w in windows)
    spans = [s for s in rec["spans"] + (stream_spans(rec) if wl == "ingest" else [])
             if in_win(s["start_ms"])]

    # etl / sources / tablelog (ingest only; zero elsewhere)
    batches = [s for s in spans if s["name"] == "etl.load.batch"]
    bsec = [(s["end_ms"] - s["start_ms"]) / 1000.0 for s in batches]
    phase = lambda n: sum(s["end_ms"] - s["start_ms"] for s in spans if s["name"] == n) / 1000.0
    bpv = rec.get("blobs_per_version", [])
    late = rec.get("gen_late_s", [])
    land = rec.get("land_s", [])
    m.update({
        "etl.extract.land_s": (statistics.mean(land) if land else 0.0, "s"),
        "etl.extract.bytes": (rec.get("land_bytes", 0), "bytes"),
        "etl.load.batches": (len(batches), "count"),
        "etl.load.files_per_batch": (statistics.mean(v["blobs"] for v in bpv) if bpv else 0.0, "count"),
        "etl.load.batch_p50_s": (quantile(bsec, 0.5), "s"),
        "etl.load.batch_p90_s": (quantile(bsec, 0.9), "s"),
        "etl.load.latest_offset_s": (phase("etl.load.latest_offset"), "s"),
        "etl.load.query_planning_s": (phase("etl.load.query_planning"), "s"),
        "etl.load.add_batch_s": (phase("sources.add_batch"), "s"),
        "etl.load.wal_commit_s": (phase("etl.load.wal_commit"), "s"),
        "etl.load.restart_s": (rec.get("restart_s", 0.0), "s"),
        "etl.load.backlog_files_max": (max([v["blobs"] for v in bpv if v["backlog"]] or [0]), "count"),
        "etl.load.freshness_share_pct": (freshness_share(rec, batches) if wl == "ingest" else 0.0, "%"),
        "tablelog.versions": (rec.get("versions", 0), "count"),
        "tablelog.active_files": (rec.get("active_files", 0), "count"),
        "tablelog.state_s": (rec.get("state_late_s", 0.0), "s"),
        "tablelog.state_early_s": (rec.get("state_early_s", 0.0), "s"),
        "tablelog.snapshot_s": (rec.get("snapshot_s", 0.0), "s"),
        "tablelog.bytes_per_user_byte": (rec.get("table_bytes", 0) / max(1, rec.get("land_bytes", 0)), "ratio"),
        "gen.late_p90_s": (quantile(late, 0.9), "s"),
        "gen.late_max_s": (max(late) if late else 0.0, "s"),
    })

    # ops: per registry time and failures (query workloads; zero on ingest)
    for mod in MODULES:
        ops = [o for o in rec.get("ops", []) if o["module"] == mod]
        m[f"ops.{mod}.s"] = (sum(o["wall_s"] for o in ops), "s")
        m[f"ops.{mod}.failed"] = (sum(1 for o in ops if o["name"] in rec["failed_names"]), "count")

    # spark: listener counters inside the timed windows
    stages = [s for s in rec["spark"]["stages"]
              if not s["group"].startswith("harness.") and in_win(s["start_ms"])]
    jobs = [s for s in spans if s["name"] == "spark.job" and not s["op"].startswith("harness.")]
    job_union = sum(union_ms([c for c in (clip((j["start_ms"], j["end_ms"]), w) for j in jobs) if c])
                    for w in windows) / 1000.0
    plan = sum(union_ms([c for c in (clip((s["start_ms"], s["end_ms"]), w) for s in spans
                                     if s["name"].startswith("spark.plan.")) if c])
               for w in windows) / 1000.0
    tot = lambda k: sum(s[k] for s in stages)
    driver_only = max(0.0, span_s - job_union)
    m.update({
        "spark.plan_s": (plan, "s"),
        "spark.driver_only_s": (driver_only, "s"),
        "spark.jobs": (len(jobs), "count"),
        "spark.stages": (len(stages), "count"),
        "spark.tasks": (tot("tasks"), "count"),
        "spark.executor_run_s": (tot("run_ms") / 1000.0, "s"),
        "spark.executor_cpu_s": (tot("cpu_ns") / 1e9, "s"),
        "spark.gc_s": (tot("gc_ms") / 1000.0, "s"),
        "spark.input_bytes": (tot("input_bytes"), "bytes"),
        "spark.shuffle_read_bytes": (tot("shuffle_read_bytes"), "bytes"),
        "spark.shuffle_write_bytes": (tot("shuffle_write_bytes"), "bytes"),
        "spark.spill_bytes": (tot("spill_bytes"), "bytes"),
        "spark.plan_driver_share_pct": (100.0 * (plan + driver_only) / max(1e-9, span_s), "%"),
        "spark.executor_cpu_share_pct": (100.0 * tot("cpu_ns") / 1e9 / max(1e-9, span_s), "%"),
    })
    for layer, sec in self_times(spans, windows, thread_roots).items():
        m[f"self.{layer}_s"] = (sec, "s")

    # validity of the run itself
    wall = end_to_end(rec)[0]["wall_s"][0]
    leaked = rec.get("leaked_streams", 0) if wl == "ingest" else \
        sum(o["leaked_streams"] for o in rec["ops"])
    m.update({
        "harness.wall_s": (span_s, "s"),
        "harness.leaked_streams": (leaked, "count"),
        "harness.trace_overhead_pct": (100.0 * (wall - untraced_wall) / max(1e-9, untraced_wall), "%"),
        "host.steal_pct": (rec["steal_pct"], "%"),
        "host.nproc": (rec["nproc"], "count"),
        "host.cores_used": (rec["cores"], "count"),
        "jvm.heap_peak_mb": (rec["heap_peak_mb"], "MB"),
    })
    return m


def freshness_share(rec, batches):
    """Share of open-loop freshness time during which a load micro-batch ran."""
    busy = [(b["start_ms"], b["end_ms"]) for b in batches]
    covered = total = 0.0
    for due, f in zip(rec["due_ms"], rec["freshness_s"]):
        if f is not None:
            win = (due, due + f * 1000.0)
            covered += union_ms([c for c in (clip(b, win) for b in busy) if c])
            total += f * 1000.0
    return 100.0 * covered / max(1e-9, total)


# ---------------------------------------------------------------- main

def emit(metrics, attempted, failed):
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in metrics.items()}}))


def one_run(cp, args, trace, started):
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{trace}-{os.getpid()}")
    try:
        t0 = time.time()
        rec = run_jvm(cp, args, trace, started, run_dir)
        t1 = time.time()
        fails = failures_of(rec, args)
        log(f"perfbench: JVM {t1 - t0:.1f} s, checks {time.time() - t1:.1f} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    rec["failed_names"] = set(fails)
    attempted = rec["attempted"] if rec["workload"] == "ingest" else len(rec["ops"])
    return rec, fails, attempted


def report(rec, fails, attempted, samples):
    k, n = rec["cores"], rec["nproc"]
    print(f"perfbench {rec['workload']} seed={rec['seed']} local[{k}] nproc={n} "
          f"steal={rec['steal_pct']:.2f}% attempted={attempted} failed={len(fails)} "
          f"error_rate={len(fails) / max(1, attempted):.4f}")
    for name, why in sorted(fails.items()):
        print(f"  FAILED {name}: {why}")
    p50 = statistics.median(samples) if samples else float("nan")
    p90 = f"op_p90_s={quantile(samples, 0.9):.4f}" if len(samples) >= 100 else \
        "op_p90_s not reported (fewer than 100 samples)"
    print(f"  op_p50_s={p50:.4f} {p90}, over {len(samples)} samples")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject", choices=["corrupt-result", "duplicate-row"],
                    help="test hook: plant a wrong result that the checks must catch")
    args = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    started = time.time()
    try:
        require_sources()
        cp = build()
        started = time.time()  # the deadline below covers the run, not the build
        rec, fails, attempted = one_run(cp, args, 0, started)
        metrics, samples = end_to_end(rec)
        if args.trace:
            # both runs are checked; the traced run's failures are keyed
            # apart, so that failures and attempts count the same operations
            untraced_wall = metrics["wall_s"][0]
            rec, f2, attempted2 = one_run(cp, args, 1, started)
            fails.update({f"{name}@traced": why for name, why in f2.items()})
            attempted += attempted2
            metrics = per_layer(rec, untraced_wall)
            samples = end_to_end(rec)[1]
    except BenchError as e:
        log(f"perfbench: {e}")
        return 2
    report(rec, fails, attempted, samples)
    emit(metrics, attempted, len(fails))
    return 0


if __name__ == "__main__":
    sys.exit(main())
