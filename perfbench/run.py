#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads, outputs checked.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>
    python3 perfbench/run.py --workload <name> ... --smoke   # tiny, for the tests

Run it from the root of a checkout. It builds the engine and the harness
once per checkout (sbt, offline), exports the classpath and launches the
engine JVM directly, so set-up time measures the engine and not sbt. The
input tables are copies of the repository's test fixtures (TESTDATA.md),
sf0.1 for the workloads and sf0.001 for --smoke, under perfbench/data; their
row counts and row hashes are checked against perfbench/inputs.json before
every run.

Each run gets a fresh directory under perfbench/.work/runs for the derived
artifacts, warehouse, checkpoints and Spark local dirs, and removes it at
the end. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones.
"""
import argparse
import hashlib
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")

# The declared queries of the analytics workload: one per operator module
# where the time budget allows, the artifact consumers (Graphs Q103, Q145
# and Q156, NearDup Q67, Stats Q227 on the daily grid) that read what the
# five rebuilds wrote, and Q218, the super-linear cliff. TextAnalysis is
# Q44, not Q45: Q45 differs from its oracle on the sf0.1 fixture (README).
QUERIES = ("Q01 Q03 Q92 Q13 Q60 Q23 Q82 Q37 Q38 Q40 Q44 Q67 Q218 Q76 Q234 "
           "Q103 Q145 Q156 Q105 Q227 Q319 Q336").split()
SMOKE_QUERIES = "Q01 Q13 Q103 Q67 Q227".split()

# Operator modules of QUERIES, one per-layer metric each.
MODULES = ("Aggregates EventTime Filters Graphs Joins NearDup PipelineOps "
           "Profiling Reshape Scalars Scans Skyline SortSet Stats TextAnalysis "
           "TextOps Trend VectorOps Windows").split()

# Workload knobs, passed to the harness as key=value options.
WORKLOADS = {
    "analytics-sf0.1": {"queries": ",".join(QUERIES), "chunks": "2"},
    "parafac": {"rank": "8", "iters": "8",
                "b_i": "5000", "b_j": "16", "b_k": "16", "b_planted": "4"},
}
SMOKE = {
    "analytics-sf0.1": {"queries": ",".join(SMOKE_QUERIES), "chunks": "2"},
    "parafac": {"rank": "4", "iters": "5",
                "b_i": "500", "b_j": "8", "b_k": "8", "b_planted": "2"},
}
# The fixture tier each mode reads, under perfbench/data.
TIER = {False: "sf0.1", True: "sf0.001"}

# Fit floors for the planted tensor (b) and the recorded fits of the Q43
# tensor (a), which must match within FIT_TOL.
FIT_FLOOR = {"cp_fit": 0.95, "hals_fit": 0.85, "tucker": 0.95}
FIT_TOL = 1e-4

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("latency_p50_s", "s")]

PER_LAYER = (
    [("sources.files_read", "count"), ("sources.bytes_read", "bytes"),
     ("sources.rows_scanned", "count"), ("sources.scan_s", "s"),
     ("plans.analysis_s", "s"), ("plans.optimization_s", "s"),
     ("plans.planning_s", "s"), ("plans.codegen_compile_s", "s"),
     ("plans.codegen_compiles", "count"), ("plans.self_s", "s"),
     ("operators.construct_s", "s"), ("operators.execute_s", "s"),
     ("operators.jobs", "count"), ("operators.stages", "count"),
     ("operators.tasks", "count"), ("operators.slot_busy_frac", "ratio"),
     ("operators.self_s", "s"), ("operators.task_cpu_s", "s"),
     ("operators.shuffle_write_bytes", "bytes"),
     ("operators.shuffle_read_bytes", "bytes"),
     ("operators.spill_bytes", "bytes"), ("operators.peak_exec_mem_mb", "MB")]
    + [(f"operators.{m}.s", "s") for m in MODULES]
    + [(f"Derived.{b}_s", "s") for b in
       ("co_pairs", "triangles", "neardup", "daily_grid", "lpa")]
    + [("Derived.bytes_written", "bytes"), ("Derived.self_s", "s")]
    + [("tensor.a.cp_fit_s", "s"), ("tensor.a.hals_fit_s", "s"),
       ("tensor.b.cp_fit_s", "s"), ("tensor.b.hals_fit_s", "s"),
       ("tensor.b.tucker_s", "s")]
    + [(f"tensor.{t}.{m}", u) for t in "ab" for m, u in
       (("job_busy_frac", "ratio"), ("slot_busy_frac", "ratio"), ("task_cpu_s", "s"))]
    + [("tensor.jobs_per_iter", "count"), ("tensor.task_cpu_s", "s"),
       ("tensor.pack_shuffle_bytes", "bytes"), ("tensor.self_s", "s")]
    + [("streaming.add_batch_s", "s"), ("streaming.query_planning_s", "s"),
       ("streaming.wal_commit_s", "s"), ("streaming.state_commit_s", "s"),
       ("streaming.state_rows", "count"), ("streaming.state_mem_bytes", "bytes"),
       ("streaming.rows_dropped_late", "count"), ("streaming.self_s", "s")]
    + [("jvm.gc_s", "s"), ("jvm.gc_count", "count"), ("jvm.heap_peak_mb", "MB"),
       ("jvm.jit_s", "s"), ("trace.wall_s", "s"), ("trace.listener_s", "s"),
       ("trace.hook_s", "s")])

RUN_DEADLINE_S = 170    # the engine JVM is killed after this
RESULT_MARGIN_S = 15    # its operations end this much earlier, failed if cut


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


# ---------------------------------------------------------------- build --

def source_digest():
    h = hashlib.sha256()
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(BENCH, "src"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for t in trees:
        for d, dirs, fs in os.walk(t):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Compile engine + harness once per source state; return the classpath
    and the digest of the sources it was built from."""
    stamp_file = os.path.join(WORK, "build", "stamp.json")
    digest = source_digest()
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            stamp = json.load(fh)
        if stamp["digest"] == digest and all(
                os.path.exists(p) for p in stamp["classpath"].split(os.pathsep)[:2]):
            return stamp["classpath"], digest
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    log("building engine and harness with sbt (once per checkout)")
    t0 = time.time()
    with open(os.path.join(WORK, "build", "sbt.log"), "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=BENCH, env=env, stdout=subprocess.PIPE,
                           stderr=out, text=True, timeout=840)
    lines = [ln.strip() for ln in r.stdout.splitlines()]
    cps = [ln for ln in lines if ".jar" in ln and os.pathsep in ln
           and not ln.startswith("[")]
    if r.returncode != 0 or not cps:
        sys.stderr.write(r.stdout[-4000:])
        fail("sbt build failed", 3)
    log(f"build done in {time.time() - t0:.1f} s")
    with open(stamp_file, "w") as fh:
        json.dump({"digest": digest, "classpath": cps[-1]}, fh)
    return cps[-1], digest


def heap():
    """The tier-1 test heap: half of physical memory, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def nproc():
    return len(os.sched_getaffinity(0))


ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def java_cmd(cp, run_dir, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            [f"-Xmx{heap()}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp",
             f"-Dlog4j2.configurationFile={BENCH}/log4j2.properties",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Dderby.system.home={run_dir}/derby",
             "-cp", cp, main] + args)


def java_env(run_dir, cpus):
    return dict(os.environ, SPARK_LOCAL_DIRS=f"{run_dir}/local",
                SPARK_GRAFT_CPUS=str(cpus))


# --------------------------------------------------------------- inputs --

def fingerprint(data):
    """Row count and an order-independent hash of every row, per table."""
    import duckdb
    con = duckdb.connect()
    tables = {}
    for t in sorted(os.listdir(data)):
        if t.endswith(".parquet"):
            rows, h = con.execute(
                "SELECT count(*), sum(hash(t)::HUGEINT) % 18446744073709551616 "
                f"FROM read_parquet('{data}/{t}') t").fetchone()
            tables[t[:-len(".parquet")]] = {"rows": rows, "hash": str(h)}
    return tables


def inputs(tier):
    """The fixture tables of `tier`, checked against perfbench/inputs.json,
    so a changed input shows as such and not as a speed-up."""
    data = os.path.join(BENCH, "data", tier)
    with open(os.path.join(BENCH, "inputs.json")) as fh:
        pinned = json.load(fh)[tier]
    got = fingerprint(data) if os.path.isdir(data) else {}
    if got != pinned:
        changed = sorted(t for t in set(got) | set(pinned) if got.get(t) != pinned.get(t))
        fail(f"input tables of {tier} differ from perfbench/inputs.json: {changed}", 4)
    return data, pinned


# ------------------------------------------------------------------ run --

def stage_replay(data, run_dir, chunks, seed):
    """The events in event-time order, cut into `chunks` files of seeded
    sizes, with increasing modification times so the file source replays
    them in order, one file per micro-batch."""
    import random
    import pyarrow.parquet as pq
    events = pq.read_table(os.path.join(data, "events.parquet")).sort_by("ts")
    rnd = random.Random(seed)
    weights = [0.5 + rnd.random() for _ in range(chunks)]
    bounds = [round(events.num_rows * sum(weights[:i]) / sum(weights))
              for i in range(chunks + 1)]
    src = os.path.join(run_dir, "replay")
    os.makedirs(src)
    t0 = time.time() - chunks
    for c in range(chunks):
        path = os.path.join(src, f"{c:04d}.parquet")
        pq.write_table(events.slice(bounds[c], bounds[c + 1] - bounds[c]), path,
                       coerce_timestamps="us")
        os.utime(path, (t0 + c, t0 + c))
    return src


def run_engine(cmd, env, log_path):
    """Run the engine JVM, killed after RUN_DEADLINE_S. Returns the seconds
    from its launch to its ready line."""
    with open(log_path, "a") as err:
        t0 = time.perf_counter()
        p = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, stderr=err, text=True)
        timer = threading.Timer(RUN_DEADLINE_S, p.kill)
        timer.start()
        try:
            setup_s, done = None, False
            for line in p.stdout:
                if setup_s is None and line.strip() == "PERFBENCH_READY":
                    setup_s = time.perf_counter() - t0
                done = line.strip() == "PERFBENCH_DONE"
            p.wait()
        finally:
            timer.cancel()
    if setup_s is None or p.returncode != 0 or not done:
        fail(f"engine JVM exited with {p.returncode}; see {log_path}", 5)
    return setup_s


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least 10 samples beyond it, never
    below the median. Returns (value, percentile, samples)."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0, 50.0, 0
    pct = max(50.0, 100.0 * (n - 10) / n)
    pos = pct / 100.0 * (n - 1)
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), pct, n


def per_name_median(ops):
    by = {}
    for o in ops:
        by.setdefault(o["name"], []).append(o["seconds"])
    return sum(median(v) for v in by.values())


def load_check():
    """scripts/check.py, imported for its DuckDB views and value normalizer."""
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "check", os.path.join(ROOT, "scripts", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def canonical(check, cursor):
    """check.py's comparison form: sorted column names, and each row's
    normalized values in column-name order."""
    cols = [d[0] for d in cursor.description]
    perm = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(check.norm(r[i]) for i in perm) for r in cursor.fetchall()]
    return sorted(cols), rows


def oracle_sql(cp, digest):
    """Each query's DuckDB oracle twin (SparkEntry.oracleSql), dumped by
    graft.OracleDump once per build of the engine."""
    out = os.path.join(WORK, "build", f"oracle-{digest[:16]}")
    if not os.path.exists(os.path.join(out, "oracle_sql.json")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(os.path.join(out, "tmp"))
        subprocess.run(java_cmd(cp, out, "graft.OracleDump", [out]),
                       env=java_env(out, nproc()), stdout=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL, timeout=120, check=True)
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        return json.load(fh)


def oracle_pins(sql, data, tables, queries):
    """The DuckDB oracle's result for each query, computed once and kept
    under a key of the query's oracle SQL and the input tables' fingerprint,
    so a changed oracle or input is pinned afresh."""
    import duckdb
    pins_dir = os.path.join(WORK, "pins")
    os.makedirs(pins_dir, exist_ok=True)
    tables_key = json.dumps(tables, sort_keys=True)
    paths = {q: os.path.join(pins_dir, hashlib.sha256(
        (sql[q] + tables_key).encode()).hexdigest()[:24] + ".pkl") for q in queries}
    missing = [q for q in queries if not os.path.exists(paths[q])]
    if missing:
        check = load_check()
        con = duckdb.connect()
        check.load_views(con, data)
        log(f"pinning oracle results for {len(missing)} queries")
        for q in missing:
            with open(paths[q] + ".tmp", "wb") as fh:
                pickle.dump(canonical(check, con.execute(sql[q])), fh)
            os.replace(paths[q] + ".tmp", paths[q])
    pins = {}
    for q in queries:
        with open(paths[q], "rb") as fh:
            pins[q] = pickle.load(fh)
    return pins


def check_queries(pins, run_dir):
    """Compare each query's written result with its pinned oracle result the
    way scripts/check.py does: sorted column names, row count, then every
    row's normalized values in order. A result's part files, in partition
    order, hold its rows in order. Returns {query: why} for wrong results."""
    import duckdb
    check = load_check()
    con = duckdb.connect()
    wrong = {}
    for q, (exp_cols, exp_rows) in pins.items():
        src = os.path.join(run_dir, "out", q)
        parts = sorted(f for f in os.listdir(src) if f.endswith(".parquet")) \
            if os.path.isdir(src) else []
        if not parts:
            wrong[q] = "no result written"
            continue
        files = ", ".join(f"'{os.path.join(src, f)}'" for f in parts)
        got_cols, got_rows = canonical(check, con.execute(
            f"SELECT * EXCLUDE (file_row_number, filename) FROM read_parquet([{files}], "
            "filename = true, file_row_number = true) ORDER BY filename, file_row_number"))
        if got_cols != exp_cols:
            wrong[q] = f"columns {got_cols} vs oracle {exp_cols}"
        elif len(got_rows) != len(exp_rows):
            wrong[q] = f"{len(got_rows)} rows vs oracle {len(exp_rows)}"
        else:
            bad = next((i for i, (g, e) in enumerate(zip(got_rows, exp_rows)) if g != e), None)
            if bad is not None:
                wrong[q] = f"row {bad}: {got_rows[bad]} vs oracle {exp_rows[bad]}"
    return wrong


def evaluate(workload, res, pins, run_dir, knobs):
    """Checks one run's outputs and derives its figures. Returns the timed
    operations (wrong results marked failed), {name: why} for wrong
    results, the workload's wall time and p50 latency, and report-only
    figures {name: (value, unit)}. Times count every operation, failed or
    not: the client waited for each."""
    ops = [o for o in res["ops"] if o["timed"]]
    wrong = {}
    report = {}
    if workload == "analytics-sf0.1":
        bad = check_queries(pins, run_dir)
        for o in ops:
            if o["kind"] == "query" and o["name"] in bad and o["ok"]:
                o["ok"], o["error"] = False, "wrong result: " + bad[o["name"]]
        wrong = dict(bad)
        wrong.update({o["name"]: o["error"] for o in ops
                      if o["kind"] == "replay" and o["error"].startswith("wrong result")})
        queries = [o for o in ops if o["kind"] == "query"]
        replays = [o for o in ops if o["kind"] == "replay"]
        build_s = sum(o["seconds"] for o in ops if o["kind"] == "build")
        wall = build_s + per_name_median(queries) + per_name_median(replays)
        samples = [o["seconds"] for o in queries]
        latency = median(samples)
        qt, qpct, qn = tail(samples)
        batches = [b["trigger_s"] for b in res["batches"]]
        bt, bpct, bn = tail(batches)
        replay_s = sum(o["seconds"] for o in ops if o["kind"] == "replay")
        report.update({"query_p50_s": (latency, "s"),
                       f"query_tail_s(p{qpct:.0f},n={qn})": (qt, "s"),
                       "build_s": (build_s, "s"),
                       "events_per_s": (res["rows"] / replay_s if replay_s else 0.0, "1/s"),
                       "batch_p50_s": (median(batches), "s"),
                       f"batch_tail_s(p{bpct:.0f},n={bn})": (bt, "s")})
    else:
        fits = res["fits"]
        with open(os.path.join(BENCH, "expected.json")) as fh:
            pinned = json.load(fh)["parafac"]
        key = "smoke" if knobs is SMOKE["parafac"] else "full"
        for f in fits:
            name = f"{f['tensor']}-{f['decomposition']}"
            if f["tensor"] == "a":
                want = pinned[key].get(name)
                ok = want is not None and abs(f["fit"] - want) <= FIT_TOL
                why = f"fit {f['fit']:.6f} vs recorded {want}"
            else:
                ok = f["fit"] >= FIT_FLOOR[f["decomposition"]]
                why = f"fit {f['fit']:.6f} below floor {FIT_FLOOR[f['decomposition']]}"
            if not ok:
                wrong[name] = why
                for o in ops:
                    if o["id"] == f["op"] and o["ok"]:
                        o["ok"], o["error"] = False, "wrong result: " + why
        wall = per_name_median(ops)
        iters = int(knobs["iters"])
        by = {}
        for o in ops:
            if "tucker" not in o["name"]:
                by.setdefault(o["name"], []).append(o["seconds"] / iters)
        per_iter = {k: median(v) for k, v in by.items()}
        latency = per_iter.get("b-cp_fit", 0.0)
        report.update({"cp_iter_s": (latency, "s")})
        report.update({f"{k}_iter_s": (v, "s") for k, v in sorted(per_iter.items())})
        report.update({f"{f['tensor']}-{f['decomposition']}.fit": (f["fit"], "")
                       for f in fits})
    return ops, wrong, wall, latency, report


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny mode for the benchmark's own tests")
    ap.add_argument("--deadline", type=float, default=RUN_DEADLINE_S - RESULT_MARGIN_S,
                    help="seconds after the engine JVM starts by which every "
                         "operation must end; a cut operation counts as failed")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no engine sources next to perfbench/ (expected build.sbt and "
             "src/main/scala/graft at the checkout root)")

    cp, digest = classpath()
    data, tables = inputs(TIER[a.smoke])
    started = time.monotonic()
    cpus = nproc()
    knobs = (SMOKE if a.smoke else WORKLOADS)[a.workload]
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "derby"):
        os.makedirs(os.path.join(run_dir, d))
    log_path = os.path.join(run_dir, "engine.log")
    env = java_env(run_dir, cpus)
    common = [f"data={data}", f"work={run_dir}", f"cpus={cpus}"]

    args = [f"workload={a.workload}", f"seed={a.seed}",
            f"seconds={a.seconds}", f"trace={a.trace}", f"deadline={a.deadline}"]
    args += [f"{k}={v}" for k, v in knobs.items()]
    if "chunks" in knobs:
        args.append(f"replay={stage_replay(data, run_dir, int(knobs['chunks']), a.seed)}")
    setup_s = run_engine(java_cmd(cp, run_dir, "perfbench.Harness", args + common),
                         env, log_path)
    jvm_s = time.monotonic() - started
    with open(os.path.join(run_dir, "result.json")) as fh:
        res = json.load(fh)

    pins = oracle_pins(oracle_sql(cp, digest), data, tables, knobs["queries"].split(",")) \
        if a.workload == "analytics-sf0.1" else None
    ops, wrong, wall, latency, report = evaluate(a.workload, res, pins, run_dir, knobs)
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    for o in res["ops"]:
        log(f"{o['kind']:<13} {o['name']:<22} pass {o['pass']:>2} {o['seconds']:8.3f} s"
            + ("" if o["ok"] else f"  FAILED: {o['error']}"))
    e2e = {"setup_s": setup_s, "wall_s": wall, "latency_p50_s": latency}
    report["peak_rss_mb"] = (res["vm_hwm_kb"] / 1024.0, "MB")
    report["failed_frac"] = (failed / attempted if attempted else 1.0, "ratio")

    if a.trace:
        layers = dict(res.get("layers", {}), **{"trace.wall_s": wall})
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END}
    for k, v in metrics.items():
        print(f"{a.workload}  {k:<32} {v['value']:.6g} {v['unit']}")
    for k, (v, u) in report.items():
        print(f"{a.workload}  {k:<32} {v:.6g} {u}")
    for q, why in sorted(wrong.items()):
        print(f"{a.workload}  WRONG {q}: {why}")
    shutil.rmtree(run_dir, ignore_errors=True)
    log(f"run took {time.monotonic() - started:.1f} s, engine JVM {jvm_s:.1f} s")
    print(json.dumps({"correct": not wrong and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
