#!/usr/bin/env python3
"""graft's benchmark: three seeded closed-loop workloads, one command.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the engine and the harness
from source (perfbench/build.sbt, once per source state), generates the
workload's inputs from the seed (gen.py), runs the harness JVM
(graft.perfbench.Main) with one client thread on Spark local[n], checks
the outputs, and prints the metrics. The last stdout line is
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. The line before
it is the full record: every metric with its unit, tail percentiles
and sample counts, input sizes, checks and the host window.

Workloads (see README.md): query_mix, delta_txn, dedup_ingest.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
sys.path.insert(0, HERE)
import gen  # noqa: E402

# Spark local[n] for the one-client loop. On a 4-vCPU host, local[2] ran
# as fast as local[4] and steadier: fewer busy vCPUs, less steal exposure.
CPUS = min(2, len(os.sched_getaffinity(0)))
# set-up is repeated this many times per run; setup_s is the median
SETUP_REPS = 3
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840
# -Xmx is a ceiling only: the heap grows with what the engine touches,
# so peak RSS follows it. The serial collector sizes the heap from the
# live data after each collection, not from pause-time goals that move
# with the host's speed.
HEAP = ["-Xmx2g", "-XX:+UseSerialGC"]
# a cycle is comparable when host steal over it stays within this share
# of the host's CPU time (nproc x the cycle's wall time)
STEAL_MAX = 0.05
# JDK 17 module opens Spark needs outside spark-submit
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

END_TO_END = ["setup_s", "ops_per_s", "cpu_s_per_op", "peak_rss_mb"]
MODULES = ["Relational", "EventOps", "TextOps", "DedupOps",
           "SimilarityOps", "MultimodalOps"]
# per-layer metrics of a traced run: (name, unit, better)
LAYER = [(f"spark.{k}_per_op", u, "lower") for k, u in [
    ("jobs", "count/op"), ("stages", "count/op"), ("tasks", "count/op"),
    ("executor_cpu_s", "s/op"), ("scheduler_delay_s", "s/op"),
    ("shuffle_bytes", "bytes/op"), ("spill_bytes", "bytes/op"),
    ("input_bytes", "bytes/op")]] + [
    ("codegen.classes_per_op", "count/op", "lower"),
    ("jvm.gc_s_per_op", "s/op", "lower"),
    ("driver.self_s_per_op", "s/op", "lower"),
    ("operators.build_s", "s", "lower"),
    ("operators.exec_s", "s", "lower")] + [
    (f"operators.{m}.busy_s", "s", "lower") for m in MODULES] + [
    ("staged.builds", "count", "lower"),
    ("staged.build_s", "s", "lower")] + [
    (f"delta.{k}_s", "s", "lower") for k in (
        "append", "merge", "update", "delete", "compact", "read",
        "timetravel")] + [
    ("delta.jobs_per_commit", "count/commit", "lower"),
    ("delta.files_added_per_commit", "count/commit", "lower"),
    ("delta.files_removed_per_commit", "count/commit", "lower"),
    ("delta.rewrite_ratio", "ratio", "lower"),
    ("deltalog.snapshot_s", "s", "lower"),
    ("deltalog.versions_replayed", "count", "lower"),
    ("deltalog.checkpoint_commit_s", "s", "lower"),
    ("deltalog.log_bytes_per_commit", "bytes/commit", "lower"),
    ("deltalog.checkpoint_bytes", "bytes", "lower"),
    ("scan.files_read_frac", "ratio", "lower"),
    ("scan.rows_read_per_row_out", "ratio", "lower"),
    ("stream.append_s", "s", "lower"),
    ("stream.drain_s", "s", "lower"),
    ("stream.compactions", "count", "higher"),
    ("stream.compact_s", "s", "lower"),
    ("stream.staged_bytes", "bytes", "lower"),
    ("stream.drain_slope", "ratio", "lower"),
    ("stream.pairs_per_batch", "count/batch", "higher"),
    ("stream.sink_commits_per_batch", "count/batch", "lower"),
    ("trace.self_time_covered_frac", "ratio", "higher"),
    ("trace.root_self_s_per_op", "s/op", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
    ("trace.overhead_base_runs", "count", "higher")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark distribution: set SPARK_HOME")
    return home


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, f) for f in (
        "build.sbt", os.path.join("project", "build.properties"),
        "run.py", "gen.py")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile engine + harness once per source state, as jars, and
    archive the classes a run loads; return the JVM's classpath
    options."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("run from the root of a graft checkout (no src/main/scala/graft)")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    global STAMP
    STAMP = stamp = h.hexdigest()
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath-" + stamp)
    jsa = os.path.join(BUILD, f"classes-{stamp[:16]}.jsa")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return class_opts(f.read().strip(), jsa)
    env = dict(os.environ, SPARK_HOME=spark_home(), COURSIER_MODE="offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        # resolve from the machine's configured (cached) repositories
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos}")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "export Runtime/fullClasspathAsJars"]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(cmd, cwd=HERE, env=env, stdout=out,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                           timeout=BUILD_TIMEOUT_S)
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [ln for ln in lines if not ln.startswith("[") and
          os.path.join("target", "scala-2.13", "") in ln]
    if r.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (exit {r.returncode}); log in {log}")
    archive_classes(cp[-1], jsa)
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    return class_opts(cp[-1], jsa)


def class_opts(cp, jsa):
    opts = ["-cp", cp]
    if os.path.exists(jsa):
        opts.insert(0, f"-XX:SharedArchiveFile={jsa}")
    return opts


def archive_classes(cp, jsa):
    """A class-data archive of the classes a run loads (JVM, Spark,
    engine), made by one untimed dedup_ingest set-up: every run then
    starts its JVM and session from mapped class metadata instead of
    loading and verifying some 20k classes from ~300 jars. A JVM that
    cannot use the archive runs without it."""
    for f in os.listdir(BUILD):  # other source states' archives
        if f.startswith("classes-") and f.endswith(".jsa"):
            os.remove(os.path.join(BUILD, f))
    train = os.path.join(BUILD, "train")
    shutil.rmtree(train, ignore_errors=True)
    inputs = os.path.join(train, "inputs")
    os.makedirs(os.path.join(train, "tmp"))
    try:
        gen.WORKLOADS["dedup_ingest"](0, inputs)
        cmd = (["java"] + OPENS + HEAP + [
               f"-XX:ArchiveClassesAtExit={jsa}",
               f"-Djava.io.tmpdir={os.path.join(train, 'tmp')}",
               "-cp", cp, "graft.perfbench.Main",
               "--workload", "dedup_ingest", "--inputs", inputs,
               "--work", train, "--out", os.path.join(train, "out.json"),
               "--seconds", "0", "--trace", "0", "--cpus", str(CPUS),
               "--reps", "1"])
        with open(os.path.join(BUILD, "archive.log"), "w") as out:
            r = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL,
                               timeout=BUILD_TIMEOUT_S)
        if r.returncode != 0:
            die(f"class archive run failed (exit {r.returncode}); log in "
                f"{os.path.join(BUILD, 'archive.log')}")
    finally:
        shutil.rmtree(train, ignore_errors=True)


# ---------------------------------------------------------- host window

def host_window():
    """nproc, load average and cumulative steal seconds, so a reader can
    tell host drift from a regression."""
    steal = 0.0
    with open("/proc/stat") as f:
        for ln in f:
            if ln.startswith("cpu "):
                steal = int(ln.split()[8]) / os.sysconf("SC_CLK_TCK")
                break
    return {"nproc": len(os.sched_getaffinity(0)),
            "loadavg": [round(x, 2) for x in os.getloadavg()],
            "steal_s": steal, "time": time.time()}


# --------------------------------------------------------------- checks

def oracle_failures(fixtures, check_dir):
    """Compare each query's output with its DuckDB oracle by
    tools/selfcheck.py's check_one. Its connections are opened here:
    small limits, views over the run's fixtures, spill files inside the
    run's directory."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import selfcheck

    def con_for(sf_dir):
        con = duckdb.connect()
        con.execute("SET threads=2")
        con.execute("SET memory_limit='512MB'")
        con.execute(f"SET temp_directory='{os.path.join(check_dir, '.duck')}'")
        for t in selfcheck.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{sf_dir}/{t}.parquet'")
        return con

    selfcheck.fresh_con = con_for
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    fails, checked = [], 0
    for name in sorted(os.listdir(check_dir)):
        d = os.path.join(check_dir, name)
        if not os.path.isdir(d) or name.startswith("."):
            continue
        checked += 1
        try:
            status, detail = selfcheck.check_one(fixtures, d, name, oracles)
        except Exception as ex:  # an oracle that cannot run is a failure
            status, detail = "fail", f"{type(ex).__name__}: {str(ex)[:200]}"
        if status != "pass":
            fails.append(f"{name}: {status}: {detail.strip()[:300]}")
    return checked, fails


def delta_validate(table):
    tool = os.path.join(ROOT, "tools", "delta_validate.py")
    r = subprocess.run([sys.executable, tool, table], capture_output=True,
                       text=True, timeout=120, stdin=subprocess.DEVNULL)
    return [] if r.returncode == 0 else [
        "delta_validate: " + (r.stdout + r.stderr).strip()[-300:]]


# -------------------------------------------------------------- metrics

def tail(xs):
    """Highest percentile with at least 10 samples beyond it:
    (value, percentile, n) or None when n <= 10."""
    xs = sorted(xs)
    n = len(xs)
    if n <= 10:
        return None
    k = n - 11  # 10 samples lie beyond xs[k]
    return xs[k], round(100.0 * (k + 1) / n, 1), n


def latency(prefix, xs, rec):
    if not xs:
        return
    rec[f"{prefix}_p50_s"] = {"value": statistics.median(xs), "unit": "s",
                              "n": len(xs)}
    t = tail(xs)
    rec[f"{prefix}_tail_s"] = (
        {"value": t[0], "unit": "s", "percentile": t[1], "n": t[2]} if t
        else {"value": None, "unit": "s", "n": len(xs),
              "note": "needs more than 10 samples"})


def union_len(ivs, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, end = 0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in ivs):
        if e <= s:
            continue
        if s > end:
            total += e - s
        elif e > end:
            total += e - end
        end = max(end, e)
    return total


def self_times(spans):
    """Per span: duration minus the union of its children's intervals."""
    kids = {}
    for s in spans:
        kids.setdefault(s[3], []).append(s)
    out = []
    for sid, name, op, parent, t0, t1 in spans:
        cover = union_len([(c[4], c[5]) for c in kids.get(sid, [])], t0, t1)
        out.append((name, op, parent, (t1 - t0 - cover) / 1e9, (t1 - t0) / 1e9))
    return out


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(res, ops, fin, overhead):
    n = max(1, len(ops))
    m = {}
    spark = res.get("spark", {})
    for k in ("jobs", "stages", "tasks", "executor_cpu_s",
              "scheduler_delay_s", "shuffle_bytes", "spill_bytes",
              "input_bytes"):
        m[f"spark.{k}_per_op"] = sum(
            spark.get(str(o["id"]), {}).get(k, 0.0) for o in ops) / n
    m["codegen.classes_per_op"] = sum(o["codegen_classes"] for o in ops) / n
    m["jvm.gc_s_per_op"] = sum(o["gc_s"] for o in ops) / n
    jobs = res.get("job_intervals", {})
    m["driver.self_s_per_op"] = sum(
        o["secs"] - union_len(jobs.get(str(o["id"]), []), o["start_ms"],
                             o["start_ms"] + o["secs"] * 1e3) / 1e3
        for o in ops) / n

    st = self_times(res.get("spans", []))
    by_name = {}
    for name, op, parent, self_s, dur in st:
        by_name.setdefault(name, []).append(dur)
    for name in ["operators.build", "operators.exec", "delta.append",
                 "delta.merge", "delta.update", "delta.delete",
                 "delta.compact", "delta.read", "delta.timetravel",
                 "stream.append", "stream.drain"]:
        m[f"{name}_s"] = mean(by_name.get(name, []))
    for mod in MODULES:
        m[f"operators.{mod}.busy_s"] = sum(
            o["secs"] for o in ops if o.get("module") == mod)
    built = [o for o in ops if o["staged_builds"] > 0]
    m["staged.builds"] = sum(o["staged_builds"] for o in ops)
    m["staged.build_s"] = sum(o["secs"] for o in built)

    # Delta layer (delta_txn): commits are ops that moved the version
    commits = [o for o in ops if o.get("committed")]
    nc = max(1, len(commits))
    m["delta.jobs_per_commit"] = sum(
        spark.get(str(o["id"]), {}).get("jobs", 0.0) for o in commits) / nc
    m["delta.files_added_per_commit"] = sum(
        o.get("files_added", 0) for o in commits) / nc
    m["delta.files_removed_per_commit"] = sum(
        o.get("files_removed", 0) for o in commits) / nc
    dml = [o for o in commits if o["name"] in ("update", "delete", "merge")]
    m["delta.rewrite_ratio"] = (
        sum(o.get("added_bytes", 0) for o in dml) /
        max(1, sum(o.get("changed_bytes", 0) for o in dml)))
    m["deltalog.snapshot_s"] = mean(
        o["deltalog_snapshot_s"] for o in ops if "deltalog_snapshot_s" in o)
    m["deltalog.versions_replayed"] = mean(
        o["versions_replayed"] for o in ops if "versions_replayed" in o)
    cp = [o["secs"] for o in commits if o.get("checkpoint")]
    m["deltalog.checkpoint_commit_s"] = statistics.median(cp) if cp else 0.0
    m["deltalog.log_bytes_per_commit"] = sum(
        o.get("log_bytes", 0) + o.get("crc_bytes", 0) for o in commits) / nc
    m["deltalog.checkpoint_bytes"] = fin.get("checkpoint_bytes", 0)
    scans = res.get("scans", {})
    reads = [o for o in ops if "live_files" in o and str(o["id"]) in scans]
    m["scan.files_read_frac"] = (
        sum(scans[str(o["id"])][0] for o in reads) /
        max(1, sum(o["live_files"] for o in reads)))
    m["scan.rows_read_per_row_out"] = (
        sum(scans[str(o["id"])][1] for o in reads) /
        max(1, sum(o["rows_out"] for o in reads)))

    # streaming layer (dedup_ingest)
    m["stream.compactions"] = sum(1 for o in ops if o.get("compacted"))
    m["stream.compact_s"] = mean(by_name.get("stream.compact", []))
    m["stream.staged_bytes"] = fin.get("staged_bytes", 0)
    drains = [o["drain_s"] for o in ops if "drain_s" in o]
    q = max(1, len(drains) // 4)
    m["stream.drain_slope"] = (mean(drains[-q:]) / mean(drains[:q])
                               if drains else 0.0)
    batches = [o for o in ops if "sink_commits" in o]
    nb = max(1, len(batches))
    m["stream.pairs_per_batch"] = sum(o["pairs_added"] for o in batches) / nb
    m["stream.sink_commits_per_batch"] = sum(
        o["sink_commits"] for o in batches) / nb

    # trace bookkeeping: the share of op wall time the layer spans
    # account for (their self times; the op's root span excluded), the
    # rest per op, and overhead against this checkout's untraced runs
    wall = sum(o["secs"] for o in ops)
    covered = sum(s for _, _, parent, s, _ in st if parent != -1)
    m["trace.self_time_covered_frac"] = covered / wall if wall else 0.0
    m["trace.root_self_s_per_op"] = sum(
        s for name, _, _, s, _ in st if name == "op") / n
    m["trace.overhead_frac"], m["trace.overhead_base_runs"] = overhead
    return m


UNTRACED_KEEP = 40
STAMP = ""


def untraced_log(workload):
    return os.path.join(BUILD, f"untraced-{workload}-{STAMP[:16]}.json")


def tracing_overhead(workload, cycle_s):
    """Traced fastest cycle time vs the median of this checkout's untraced
    runs of the same workload and sources: (fraction, runs compared)."""
    try:
        with open(untraced_log(workload)) as f:
            base = json.load(f)
    except (OSError, ValueError):
        base = []
    if not base:
        return 0.0, 0
    return cycle_s / statistics.median(base) - 1.0, len(base)


def remember_untraced(workload, cycle_s):
    path = untraced_log(workload)
    try:
        with open(path) as f:
            base = json.load(f)
    except (OSError, ValueError):
        base = []
    with open(path, "w") as f:
        json.dump((base + [cycle_s])[-UNTRACED_KEEP:], f)


# ------------------------------------------------------------------ run

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    cp = build()
    args.class_archive = cp[0].startswith("-XX:SharedArchiveFile")
    host0 = host_window()
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t0 = time.time()
        gen.WORKLOADS[args.workload](args.seed, inputs)
        gen_s = time.time() - t0
        out = os.path.join(work, "result.json")
        cmd = (["java"] + OPENS + HEAP + [
               f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + cp + [
               "graft.perfbench.Main",
               "--workload", args.workload, "--inputs", inputs,
               "--work", work, "--out", out,
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--cpus", str(CPUS), "--reps", str(SETUP_REPS)])
        launch_ms = time.time() * 1e3
        log = os.path.join(work, "jvm.log")
        with open(log, "w") as lf:
            p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL)
            try:
                rc = p.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                rc = "timeout"
        if rc != 0 or not os.path.exists(out):
            with open(log) as f:
                sys.stderr.write("".join(f.readlines()[-60:]))
            die(f"harness JVM failed ({rc})")
        with open(out) as f:
            res = json.load(f)
        report(args, res, gen_s, launch_ms, inputs, host0)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(args, res, gen_s, launch_ms, inputs, host0):
    ops = res["ops"]
    fin = res["workload"]
    checks = list(fin["check_failures"])
    t0 = time.time()
    if args.workload == "query_mix":
        n_checks, fails = oracle_failures(inputs, fin["check_dir"])
        checks += fails
    elif args.workload == "delta_txn":
        n_checks = 2  # final table == model; delta_validate.py
        checks += delta_validate(fin["table"])
    else:
        n_checks = 2  # no duplicate pairs; every planted copy paired
    check_s = time.time() - t0
    failed_ops = [o for o in ops if not o["ok"]]
    attempted = len(ops) + n_checks
    failed = len(failed_ops) + len(checks)

    secs = [o["secs"] for o in ops]
    session_s = (res["session_ready_ms"] - launch_ms) / 1e3
    setup = session_s + gen_s + statistics.median(res["prepare_s"]) + \
        res["warm_s"]
    # the loop runs whole cycles of the op mix; rates are the fastest
    # cycle's: host steal and other guests only ever slow a cycle down
    c = res["cycle"]
    cycle_s = [sum(secs[i:i + c]) for i in range(0, len(secs), c)]
    cycle_cpu = [sum(o["cpu_s"] for o in ops[i:i + c])
                 for i in range(0, len(ops), c)]
    nproc = host0["nproc"]
    cycle_steal = [sum(o["steal_ticks"] for o in ops[i:i + c]) /
                   os.sysconf("SC_CLK_TCK") / (nproc * w)
                   for i, w in zip(range(0, len(ops), c), cycle_s)]
    best = min(range(len(cycle_s)), key=cycle_s.__getitem__)
    rec = {
        "setup_s": {"value": setup, "unit": "s", "gen_s": gen_s,
                    "launch_to_session_s": session_s,
                    "prepare_s": res["prepare_s"], "warm_s": res["warm_s"]},
        "ops_per_s": {"value": c / cycle_s[best],
                      "unit": "ops/s", "ops": len(ops),
                      "busy_s": res["busy_s"], "cycle_ops": c,
                      "cycle_s": cycle_s, "cycle_steal_frac": cycle_steal,
                      "comparable": cycle_steal[best] <= STEAL_MAX},
        "cpu_s_per_op": {"value": min(cycle_cpu) / c,
                         "unit": "s", "cycle_cpu_s": cycle_cpu},
        "peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MB"},
        "retained_heap_mb": {"value": res["retained_heap_mb"], "unit": "MB"},
        "failed_frac": {"value": failed / attempted, "unit": "ratio"},
    }
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(o["secs"])
    rec["op_p50_by_name_s"] = {k: statistics.median(v)
                               for k, v in sorted(by_name.items())}
    latency("op", secs, rec)
    latency("read", [o["secs"] for o in ops if o["kind"] == "read"], rec)
    latency("write", [o["secs"] for o in ops if o["kind"] == "write"], rec)
    if args.workload != "query_mix":
        written = sum(o.get(k, 0) for o in ops for k in (
            "data_bytes", "log_bytes", "checkpoint_bytes", "crc_bytes"))
        changed = sum(o.get("changed_bytes", 0) + o.get("pair_bytes", 0)
                      for o in ops)
        rec["write_amp"] = {"value": written / max(1, changed),
                            "unit": "ratio", "bytes_written": written,
                            "bytes_changed": changed}
        rec["space_amp"] = {"value": fin["disk_bytes"] /
                            max(1, fin["live_data_bytes"]), "unit": "ratio"}
    if args.trace:
        layer = per_layer(res, ops, fin,
                          tracing_overhead(args.workload, min(cycle_s)))
        metrics = {k: {"value": layer[k], "unit": u} for k, u, _ in LAYER}
    else:
        remember_untraced(args.workload, min(cycle_s))
        metrics = {k: {"value": rec[k]["value"], "unit": rec[k]["unit"]}
                   for k in END_TO_END}
    record = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "cpus": CPUS,
              "class_archive": args.class_archive,
              "sizes": gen.sizes(args.workload), "end_to_end": rec,
              "state": {k: v for k, v in fin.items() if k not in (
                  "check_failures", "check_dir", "table")},
              "check_failures": checks,
              "finish_s": res["finish_s"], "check_s": check_s,
              "failed_ops": [f"{o['id']}:{o['name']}" for o in failed_ops],
              "host": {"start": host0, "end": host_window()}}
    if args.trace:
        record["per_layer"] = metrics
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
