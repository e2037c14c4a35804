#!/usr/bin/env python3
"""The repository benchmark: one command runs one workload end to end.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. It builds the program from source (cached by
a hash of the sources), generates the workload's inputs from the seed
(cached by seed and size), starts one JVM at local[nproc] that sets up,
warms up and drives timed rounds through the program's public entry points
(perfbench/src/main/scala/perfbench/Main.scala), checks every output
outside the timed region, and prints each metric with its unit. The last
line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones from a run whose
rounds alternate untraced and traced. See perfbench/README.md for the
workloads, the metric definitions and the layer-to-metric map.

--plant-fault alters one aggregate row (ETL) or one query result (registry)
after the run and before the checks; the checks must then fail.
--all-queries runs the whole registry once instead of the sample (the
oracle check over every query); it is not a benchmark workload.
"""
import argparse
import hashlib
import json
import math
import os
import random
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

# `round_s` is the nominal time of one round on a 4-core host: --seconds
# buys round(seconds / round_s) rounds (at least one), a fixed amount of work
# however fast the program runs, so every run times the same ops after the
# same warm-up.
WORKLOADS = {
    # 30 days of history; each round is one backfill of its first
    # `range_days` (the third is the empty day) from an empty DWH, and every
    # day re-parses all 30 days (slice ratio ~1/30)
    "etl_backfill": dict(history_days=30, taps_per_day=3000, range_days=4, empty_day=2, round_s=11),
    # one busy day; its slice is nearly the whole input
    "etl_peak_day": dict(history_days=1, taps_per_day=150000, range_days=1, empty_day=None, round_s=4),
    "registry": dict(round_s=4),
}
START = "2025-07-01"
SF_DIR = os.path.join(HERE, "data", "sf0.01")
QUERY_SAMPLE = os.path.join(HERE, "registry_queries.txt")
# Every operator file that launches jobs from its own code, by attributed
# job time over a full registry pass (only these seven do).
OPERATOR_FILES = ["Components", "Vectors", "Affinity", "TextAnalysis", "Profile", "Dedup", "PhraseSearch"]
# the JVM's time limit: set-up and the untimed passes, plus every round at
# up to twice its nominal time
JVM_FIXED_S = 100
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"ERROR: {msg}")
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_files():
    """Everything the build reads: both build definitions and both source trees."""
    files = []
    for base in (ROOT, HERE):
        files.append(os.path.join(base, "build.sbt"))
        proj = os.path.join(base, "project")
        if os.path.isdir(proj):
            files += sorted(os.path.join(proj, f) for f in os.listdir(proj)
                            if os.path.isfile(os.path.join(proj, f)))
    for tree in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, fs in os.walk(tree):
            dirs.sort()
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile the program and the benchmark; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("no program sources (build.sbt, src/main) next to perfbench/; run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    key = source_hash()
    stamp = os.path.join(WORK, "build", f"classpath-{key}.txt")
    if os.path.isfile(stamp):
        return open(stamp).read().strip(), 0.0
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t = time.time()
    log("building program and benchmark (sbt compile)")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       stdin=subprocess.DEVNULL, timeout=800)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip(), time.time() - t


# ---------------------------------------------------------------- inputs

def dir_bytes(path, suffix=""):
    total = 0
    for d, _, fs in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in fs if f.endswith(suffix))
    return total


def etl_inputs(name, seed, spec):
    """Generated CSVs for one (seed, size), cached; returns their metadata."""
    import gen_taps
    key = f"{name}-s{seed}-d{spec['history_days']}-n{spec['taps_per_day']}"
    out = os.path.join(WORK, "inputs", key)
    meta_path = os.path.join(out, "meta.json")
    if not os.path.isfile(meta_path):
        shutil.rmtree(out, ignore_errors=True)
        t = time.time()
        per_day = gen_taps.generate(out, seed, spec["history_days"], spec["taps_per_day"],
                                    START, spec.get("empty_day"))
        os.sync()  # no write-back of the fresh inputs during the timed region
        meta = dict(taps_per_day=per_day, bytes=dir_bytes(out, ".csv"),
                    rows=sum(per_day.values()), gen_s=time.time() - t)
        with open(meta_path, "w") as f:
            json.dump(meta, f)
    os.utime(out)
    prune(os.path.join(WORK, "inputs"), keep=4)
    return out, json.load(open(meta_path))


def prune(parent, keep):
    """Drop all but the `keep` most recently used entries of `parent`."""
    entries = sorted((os.path.join(parent, e) for e in os.listdir(parent)), key=os.path.getmtime)
    for e in entries[:-keep]:
        shutil.rmtree(e, ignore_errors=True)


# ---------------------------------------------------------------- run

def other_benchmark_alive():
    me = os.getpid()
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == me:
            continue
        try:
            cmd = open(f"/proc/{pid}/cmdline", "rb").read().split(b"\0")
        except OSError:
            continue
        if any(c in (b"perfbench.Main", b"graft.Bench") for c in cmd) or \
                (len(cmd) > 1 and cmd[1].endswith(b"perfbench/run.py")):
            return pid
    return None


def loadavg():
    return open("/proc/loadavg").read().split()[:3]


def cpu_jiffies():
    """(steal, total) jiffies from /proc/stat: the host taking CPU from this VM."""
    f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
    return f[7], sum(f)


def run_jvm(classpath, args, run_dir, nproc, timeout):
    stderr_path = os.path.join(run_dir, "jvm.log")
    # The heap limit of the program's own build (build.sbt javaOptions),
    # pinned (initial = limit, fixed young generation) so that the JVM's
    # heap sizing heuristics do not move peak_rss_mb from run to run.
    heap = os.environ.get("SPARK_DRIVER_MEM", "8g")
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-Xmn512m"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dspark.local.dir={run_dir}/spark-local",
              "-Dspark.callstack.depth=200", "-cp", classpath, "perfbench.Main"] + args)
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc))
    with open(stderr_path, "w") as err:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=err, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"JVM exceeded {timeout:.0f} s; log in {stderr_path}")
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    if p.returncode != 0:
        sys.stderr.write("".join(open(stderr_path).readlines()[-40:]))
        fail(f"JVM exited with {p.returncode}; log in {stderr_path}")
    return stderr_path


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """Highest nearest-rank percentile with at least ten samples beyond it."""
    s = sorted(xs)
    k = len(s) - 10
    if k < 1:
        return float("nan"), float("nan")
    return s[k - 1], 100.0 * k / len(s)


def geomean(xs):
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def union_ms(intervals):
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0)


def end_to_end(art, workload, taps_per_day):
    ops = art["ops"]
    rounds = [r for r in art["rounds"] if not r["traced"]]
    op_s = [(o["end"] - o["start"]) / 1e9 for o in ops if not o["traced"]]
    round_s = [(r["end"] - r["start"]) / 1e9 for r in rounds]
    # every round does the same work: the taps of its days, or its queries
    first = [o for o in ops if o["round"] == rounds[0]["round"]]
    items = len(first) if workload == "registry" else sum(taps_per_day[o["label"]] for o in first)
    by_label = {}
    for o in ops:
        if not o["traced"]:
            by_label.setdefault(o["label"], []).append((o["end"] - o["start"]) / 1e9)
    tail_v, tail_p = tail(op_s)
    return {
        "setup_s": (art["setup"]["setup_s"], "s"),
        "wall_s": (median(round_s), "s"),
        "items_per_s": (items / median(round_s), "1/s"),
        "op_s_p50": (median(op_s), "s"),
        "op_s_geomean": (geomean([median(v) for v in by_label.values()]), "s"),
        "peak_rss_mb": (art["vm_hwm_kb"] / 1024.0, "MB"),
    }, dict(op_samples=len(op_s), tail_s=tail_v, tail_percentile=tail_p, rounds=len(rounds))


def per_layer(art, workload, nproc, log_lines):
    t0 = art["t0_epoch_ms"]
    ops = [o for o in art["ops"] if o["traced"]]
    traced_rounds = [r for r in art["rounds"] if r["traced"]]
    units = len(traced_rounds) if workload == "registry" else len(ops)
    span_ids = {s["id"] for o in ops for s in o["spans"]}
    jobs = [j for j in art["jobs"] if j["span"] in span_ids and j["end"] >= 0]

    def ms(ns):
        return t0 + ns / 1e6

    def jsum(pred, field):
        return sum(j[field] for j in jobs if pred(j))

    def jwall(pred):
        return sum(j["end"] - j["start"] for j in jobs if pred(j)) / 1e3

    m = {}
    m["session.start_s"] = (art["setup"]["session_s"], "s")
    # etl: Dims runs first inside Pipeline.run, so its phase ends with its last
    # job; the days of one backfill call share its span, so a day's jobs are
    # those of the span that start inside the day
    driver_ms = dims_ms = 0.0
    for o in ops:
        for s in o["spans"]:
            if s["name"] != "etl.Pipeline":
                continue
            mine = [j for j in jobs if j["span"] == s["id"] and ms(s["start"]) <= j["start"] < ms(s["end"])]
            driver_ms += (s["end"] - s["start"]) / 1e6 - union_ms([(j["start"], j["end"]) for j in mine])
            dims_end = max((j["end"] for j in mine if "etl.Dims" in j["stack_files"]), default=None)
            if dims_end is not None:
                dims_ms += dims_end - ms(s["start"])
    in_dims = lambda j: "etl.Dims" in j["stack_files"]
    extract = lambda j: j["file"] == "etl.Daily"
    sinks = lambda j: j["file"] == "sources.Sinks"
    snaps = lambda j: j["file"] == "sources.Snapshots"
    kept = sum(o["report"]["bus_rows"] + o["report"]["halte_rows"] for o in ops if o["report"])
    scanned = jsum(extract, "in_rows")
    m["etl.Pipeline.driver_s"] = (driver_ms / 1e3, "s")
    m["etl.Dims.s"] = (dims_ms / 1e3, "s")
    m["etl.Dims.jobs"] = (sum(1 for j in jobs if in_dims(j)), "count")
    m["etl.Dims.output_bytes"] = (jsum(in_dims, "out_bytes"), "B")
    m["etl.Daily.extract_s"] = (jwall(extract), "s")
    m["etl.Daily.input_bytes"] = (jsum(extract, "in_bytes"), "B")
    m["etl.Daily.input_rows"] = (scanned, "count")
    exec_jobs = {}
    for j in jobs:
        exec_jobs.setdefault(j["exec"], []).append(j)
    commit_ms = files = 0
    for x in art["execs"]:
        js = exec_jobs.get(x["id"], [])
        if js and all(sinks(j) for j in js) and x["end"] >= 0:
            commit_ms += max(0, x["end"] - max(j["end"] for j in js))
            files += x["files"]
    m["sources.Sinks.s"] = (jwall(sinks), "s")
    m["sources.Sinks.commit_s"] = (commit_ms / 1e3, "s")
    m["sources.Sinks.output_files"] = (files, "count")
    m["sources.Sinks.output_bytes"] = (jsum(sinks, "out_bytes"), "B")
    m["sources.Snapshots.s"] = (jwall(snaps), "s")
    m["sources.Snapshots.output_bytes"] = (jsum(snaps, "out_bytes"), "B")
    for phase in ("build", "action"):
        ids = {s["id"] for o in ops for s in o["spans"] if s["name"] == f"registry.{phase}"}
        m[f"registry.{phase}_s"] = (sum((s["end"] - s["start"]) / 1e9 for o in ops for s in o["spans"]
                                        if s["id"] in ids), "s")
        m[f"registry.{phase}_jobs"] = (sum(1 for j in jobs if j["span"] in ids), "count")
    for f in OPERATOR_FILES:
        m[f"operators.{f}.s"] = (jwall(lambda j, f=f: j["file"] == f"operators.{f}"), "s")
    all_jobs = lambda j: True
    m["spark.task_cpu_s"] = (jsum(all_jobs, "cpu_ns") / 1e9, "s")
    m["spark.gc_s"] = (sum(r["gc_ms"] for r in traced_rounds) / 1e3, "s")
    m["spark.tasks"] = (jsum(all_jobs, "tasks"), "count")
    m["spark.shuffle_write_bytes"] = (jsum(all_jobs, "shuffle_write"), "B")
    m["spark.shuffle_read_bytes"] = (jsum(all_jobs, "shuffle_read"), "B")
    m["spark.shuffle_fetch_wait_s"] = (jsum(all_jobs, "fetch_wait_ms") / 1e3, "s")
    m["spark.spill_bytes"] = (jsum(all_jobs, "spill_bytes"), "B")
    # not per unit: the largest single task
    peak = max((j["peak_exec_mem"] for j in jobs), default=0)
    job_ids = {j["id"] for j in jobs}
    skews = [s["max_ms"] / s["median_ms"] for s in art["stages"]
             if s["job"] in job_ids and s["tasks"] >= 4 and s["median_ms"] > 0]
    busy = union_ms([(j["start"], j["end"]) for j in jobs])
    idle = 1 - jsum(all_jobs, "task_ms") / (nproc * busy) if busy else 0.0
    # everything above but the set-up is a sum over the traced rounds: report it per unit
    m.update({k: (v / units if units else 0.0, u) for k, (v, u) in m.items() if k != "session.start_s"})
    m["etl.Daily.slice_ratio"] = (kept / scanned if scanned else 0.0, "ratio")
    all_units = len(art["rounds"]) if workload == "registry" else len(art["ops"])
    m["log.warn_lines"] = (log_lines / all_units, "count")
    m["spark.peak_exec_mem_bytes"] = (peak, "B")
    m["spark.task_skew"] = (max(skews, default=1.0), "ratio")
    m["spark.core_idle_frac"] = (idle, "ratio")
    # the same op, traced vs untraced, in the same JVM, after the first round
    walls = {}
    for o in art["ops"]:
        if o["round"] > 0:
            walls.setdefault((o["label"], o["traced"]), []).append((o["end"] - o["start"]) / 1e9)
    labels = [lab for (lab, tr) in walls if tr and (lab, False) in walls]
    traced_s = sum(median(walls[(lab, True)]) for lab in labels)
    untraced_s = sum(median(walls[(lab, False)]) for lab in labels)
    m["trace.overhead_frac"] = (traced_s / untraced_s - 1 if untraced_s else 0.0, "ratio")
    return m


def warn_lines(path):
    """WARN log records the JVM printed between the timed-region markers."""
    inside, n = False, 0
    with open(path, errors="replace") as f:
        for line in f:
            if "perfbench: timed region start" in line:
                inside = True
            elif "perfbench: timed region end" in line:
                inside = False
            elif inside and " WARN " in line:
                n += 1
    return n


# ---------------------------------------------------------------- checks

def plant_fault(workload, run_dir, days):
    """Alter one value of one output row in place, keeping the file's types."""
    import duckdb
    con = duckdb.connect()
    if workload == "registry":
        out = os.path.join(run_dir, "check")
        targets = [os.path.join(out, n) for n in sorted(json.load(open(os.path.join(out, "oracle_sql.json"))))]
    else:
        targets = [os.path.join(run_dir, "dwh", "agg_by_card", f"tanggal={days[0]}")]
    for target in targets:
        for f in sorted(x for x in os.listdir(target) if x.endswith(".parquet")):
            path = os.path.join(target, f)
            # the file's own columns only, not the partition column in its path
            src = f"read_parquet('{path}', hive_partitioning=false)"
            cols = con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()
            if con.execute(f"SELECT count(*) FROM {src}").fetchone()[0] == 0:
                continue
            numeric = [c for c, t, *_ in cols if t in ("BIGINT", "INTEGER", "DOUBLE", "HUGEINT")]
            text = [c for c, t, *_ in cols if t == "VARCHAR"]
            if not numeric and not text:
                continue
            col = (numeric or text)[0]
            bump = f"{col} + 1" if numeric else f"{col} || 'x'"
            con.execute(f"COPY (SELECT * REPLACE (CASE WHEN row_number() OVER () = 1 THEN {bump} "
                        f"ELSE {col} END AS {col}) FROM {src}) TO '{path}.tmp' (FORMAT parquet)")
            os.replace(f"{path}.tmp", path)
            log(f"planted fault: {os.path.relpath(path, run_dir)} column {col}, one row altered")
            return
    fail("no output row to alter")


def check_registry(art, run_dir):
    """tools/check_oracle.py over the untimed pass's outputs; returns the
    queries without an OK line (a failed or missing output), and counts."""
    out = os.path.join(run_dir, "check")
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"), SF_DIR, out],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=300)
    names = set(json.load(open(os.path.join(out, "oracle_sql.json"))))
    ok = {line.split()[1].rstrip(":") for line in p.stdout.splitlines() if line.startswith("OK")}
    for line in p.stdout.splitlines():
        if not line.startswith("OK"):
            log(f"oracle: {line}")
    for name, err in art["prepare"].get("check_pass_errors", {}).items():
        log(f"check pass: {name}: {err}")
    return names - ok, len(ok & names), len(names)


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant-fault", action="store_true")
    ap.add_argument("--all-queries", action="store_true")
    a = ap.parse_args()

    sibling = other_benchmark_alive()
    if sibling:
        fail(f"another benchmark or graft.Bench JVM is alive (pid {sibling}); refusing to measure", 3)
    classpath, build_s = build()
    nproc = len(os.sched_getaffinity(0))
    spec = WORKLOADS[a.workload]
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    rounds = max(1, round(a.seconds / spec["round_s"]))
    jvm_args = ["--workload", a.workload, "--rounds", str(rounds), "--trace", str(a.trace),
                "--work", run_dir, "--out", os.path.join(run_dir, "artifact.json")]
    days = []
    if a.workload == "registry":
        if not os.path.isdir(SF_DIR):
            fail(f"missing {SF_DIR}")
        names = [n.strip() for n in open(QUERY_SAMPLE) if n.strip() and not n.startswith("#")]
        if a.all_queries:
            names = ["*"]
        random.Random(a.seed).shuffle(names)
        with open(os.path.join(run_dir, "queries.txt"), "w") as f:
            f.write("\n".join(names) + "\n")
        jvm_args += ["--sf", SF_DIR, "--queries", os.path.join(run_dir, "queries.txt"),
                     "--check-out", os.path.join(run_dir, "check")]
        import duckdb
        input_bytes = dir_bytes(SF_DIR, ".parquet")
        input_rows = duckdb.connect().execute(
            f"SELECT sum(num_rows) FROM parquet_file_metadata('{SF_DIR}/*.parquet')").fetchone()[0]
        taps = {}
    else:
        csv_dir, meta = etl_inputs(a.workload, a.seed, spec)
        days = sorted(meta["taps_per_day"])[:spec["range_days"]]
        jvm_args += ["--csv", csv_dir, "--from", days[0], "--to", days[-1]]
        input_bytes, input_rows, taps = meta["bytes"], meta["rows"], meta["taps_per_day"]

    load_before, jiffies_before = loadavg(), cpu_jiffies()
    jvm_rounds = max(rounds, 3) if a.trace else rounds  # as perfbench.Main counts them
    budget = 1200 if a.all_queries else JVM_FIXED_S + 2 * jvm_rounds * spec["round_s"]
    jvm_log = run_jvm(classpath, jvm_args, run_dir, nproc, budget)
    load_after, jiffies_after = loadavg(), cpu_jiffies()
    steal_frac = (jiffies_after[0] - jiffies_before[0]) / max(1, jiffies_after[1] - jiffies_before[1])
    art = json.load(open(os.path.join(run_dir, "artifact.json")))

    if a.plant_fault:
        plant_fault(a.workload, run_dir, days)
    ops = art["ops"]
    attempted = len(ops)
    failed_ops = [o for o in ops if not o["ok"]]
    for o in failed_ops[:5]:
        log(f"op failed: {o['label']}: {o['error']}")
    if a.workload == "registry":
        bad, n_ok, n_checked = check_registry(art, run_dir)
        failed = sum(1 for o in ops if not o["ok"] or o["label"] in bad)
        check_note = f"oracle {n_ok}/{n_checked} queries match"
        dwh_bytes = dir_bytes(os.path.join(run_dir, "tmp"))
    else:
        import etl_check
        last = max(o["round"] for o in ops)
        final_days = sorted({o["label"] for o in ops if o["round"] == last})
        reports = [o["report"] for o in ops if o["ok"]]
        bad_days, notes = etl_check.check(csv_dir, os.path.join(run_dir, "dwh"), final_days, reports)
        for n in notes[:10]:
            log(f"check: {n}")
        failed = sum(1 for o in ops if not o["ok"] or not o["report"].get("check_ok", False)
                     or (o["round"] == last and o["label"] in bad_days))
        check_note = f"{len(final_days)} ds x 3 aggregates + 3 dims vs DuckDB replication, " \
                     f"{len(reports)} RunReports"
        dwh_bytes = dir_bytes(os.path.join(run_dir, "dwh"))

    nwarn = warn_lines(jvm_log)
    if a.trace:
        metrics = per_layer(art, a.workload, nproc, nwarn)
        extra = {}
    else:
        metrics, extra = end_to_end(art, a.workload, taps)
        metrics["dwh_bytes_per_input_byte"] = (dwh_bytes / input_bytes, "ratio")
    correct = failed == 0 and attempted > 0

    git_sha = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True)
        git_sha = r.stdout.strip() or None
    prov = dict(git_sha=git_sha, source_hash=source_hash(), seed=a.seed, nproc=nproc,
                timed_action="noop sink" if a.workload == "registry" else
                ("Pipeline.backfill over the range" if a.workload == "etl_backfill" else "Pipeline.run"),
                input_rows=input_rows, input_bytes=input_bytes,
                loadavg_before=load_before, loadavg_after=load_after, cpu_steal_frac=steal_frac,
                build_s=build_s,
                **art["provenance"])
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    os.makedirs(os.path.join(WORK, "artifacts"), exist_ok=True)
    with open(os.path.join(WORK, "artifacts", f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(dict(result, provenance=prov, details=extra, setup=art["setup"],
                       rounds=art["rounds"], check=check_note), f, indent=1)

    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  master {prov['spark.master']}  "
          f"nproc {nproc}  shuffle_partitions {prov['shuffle_partitions']}  codec {prov['codec']}")
    print(f"timed action {prov['timed_action']}  input rows {input_rows}  bytes {input_bytes}  "
          f"loadavg {' '.join(load_before)} -> {' '.join(load_after)}  cpu steal {steal_frac:.3f}  "
          f"sha {git_sha or prov['source_hash']}")
    print(f"check: {check_note}; ops_failed_frac {failed / attempted:.4f} ({failed}/{attempted})")
    if extra:
        tail_note = (f"p{extra['tail_percentile']:.1f} {extra['tail_s']:.4f} s" if extra["op_samples"] > 10
                     else "n/a (needs more than 10 samples)")
        print(f"ops timed {extra['op_samples']} in {extra['rounds']} rounds; op tail {tail_note}")
    for k, (v, u) in metrics.items():
        print(f"  {k:34s} {v:16.6f} {u}")
    shutil.rmtree(os.path.join(run_dir, "spark-local"), ignore_errors=True)
    prune(os.path.join(WORK, "runs"), keep=6)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
