#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload pip_hot --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (offline) into $CARGO_TARGET_DIR (default
.bench_build) and checks the query-mix oracle counts (mix_oracle.json);
later runs reuse both while the sources are unchanged.

Workloads (see README.md in this directory):
  pip_hot      doc->tile point-in-polygon job, 10% of docs in a hot disc
  pip_uniform  the same job without the hot disc
  query_mix    12 engine queries at sf0.01, order permuted by the seed

The last stdout line is one JSON object:
  {"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). A traced run also writes its spans and attribution table
under <build dir>/trace/.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing into the benchmark's sources

import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("pip_hot", "pip_uniform", "query_mix")
SLOTS = min(os.cpu_count() or 1, 4)
SETUP_REPS = 3

# doc->tile job size and join parameters; the untimed warmup job runs the
# same code on a tenth of the docs, with the hot threshold scaled to match
PIP = {"docs": 25_000, "regions": 2000, "zoom": 8, "salt": 8, "hot_threshold": 500}
WARMUP_SHARE = 10

# the query mix and the family each query is reported under
MIX = [
    ("q02_join_agg", "relational"), ("q09_time_window", "relational"),
    ("q52_pip_adaptive", "pip"), ("q51_geom_selfjoin", "geomjoin"), ("q14_knn", "knn"),
    ("q13_tile_assign", "raster"), ("q37_focal_tpi", "dem"),
    ("q116_sieve8", "polygonize"), ("q223_stream_semi_join", "streaming"),
    ("q260_merge_upsert", "merge"), ("q169_dedup_clusters", "dedup"),
    ("q263_network_sssp", "graph"),
]
FAMILIES = list(dict.fromkeys(f for _, f in MIX))
LOOP_QUERIES = ("q116_sieve8", "q169_dedup_clusters", "q263_network_sssp")
MIX_TABLE_SEED = 42  # the mix tables are fixed; the run's seed orders the queries

END_TO_END = {"setup_s": "s", "pass_s": "s", "job_geomean_s": "s", "cpu_s": "s",
              "retained_heap_mb": "MB"}
PER_LAYER = (
    [("entry.build_s", "s"), ("entry.eager_jobs", "count"),
     ("spark.analysis_s", "s"), ("spark.optimization_s", "s"), ("spark.planning_s", "s"),
     ("spark.exec_s", "s")]
    + [(f"family.{f}_s", "s") for f in FAMILIES]
    + [("loop.stages", "count"), ("functions.parse_s", "s"),
       ("sj.build_s", "s"), ("sj.eager_jobs", "count"), ("sj.exec_s", "s"),
       ("sj.shuffle_bytes", "bytes"), ("sj.useful_ratio", "ratio"),
       ("io.commit_s", "s"), ("io.bytes_written", "bytes"), ("io.files", "count"),
       ("core.geo_cell_ns", "ns"), ("core.cover_ns", "ns"), ("core.contains_ns", "ns"),
       ("core.wkt_parse_ns", "ns"), ("core.burn_runs_ns", "ns"), ("core.focal3x3_ns", "ns"),
       ("core.hash64_ns", "ns"),
       ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
       ("spark.shuffle_read_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
       ("spark.gc_s", "s"), ("spark.task_cpu_s", "s"), ("spark.busy_frac", "ratio"),
       ("host.steal_frac", "ratio"), ("host.calib_ns", "ns"), ("host.vmhwm_mb", "MB"),
       ("trace.pass_s", "s"), ("trace.attributed_frac", "ratio"), ("failed_frac", "ratio")])

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---- build -----------------------------------------------------------------

def source_files(root):
    files = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return files


def digest(base, paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, base).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def spark_jars(root):
    """The Spark jars directory the engine's own build compiles against
    (its unmanagedBase), else $SPARK_HOME/jars."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m:
        return m.group(1)
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    fail("no Spark jars: the engine's build.sbt names none and SPARK_HOME is unset")


def build(root, out):
    """Compile the engine and the harness unless the sources are unchanged;
    return the runtime classpath."""
    stamp_file = os.path.join(out, "build.stamp")
    cp_file = os.path.join(out, "classpath.txt")
    stamp = digest(root, source_files(root))
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building engine and harness with sbt (offline)")
    env = dict(os.environ, COURSIER_MODE="offline", CARGO_TARGET_DIR=out,
               SPARK_JARS=spark_jars(root))
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.override.build.repos=true",
           "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
           "-Dsbt.offline=true", f"-Djava.io.tmpdir={out}/tmp",
           "compile", "export Compile/fullClasspath"]
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    t0 = time.time()
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    lines = p.stdout.splitlines()
    cps = [ln for ln in lines if "perfbench-target" in ln and ".jar" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cps[-1].strip()


# ---- query-mix oracle ------------------------------------------------------

def mix_oracle(root, out, tables_dir, names, refresh=False):
    """Row counts of the mix queries' DuckDB oracles on the fixed mix tables,
    keyed per query by the table bytes and the query's oracle SQL. A few
    oracle SQLs (MinHash in HUGEINT arithmetic) take minutes, so counts
    whose key matches mix_oracle.json (checked in) or the checkout's cache
    are reused; the rest are computed and cached. refresh=True recomputes
    every count and rewrites mix_oracle.json."""
    sql = json.load(open(os.path.join(root, "oracle_sql.json")))
    tables = digest(tables_dir, sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))))
    keys = {n: hashlib.sha256((tables + sql[n]).encode()).hexdigest()[:24] for n in names}
    golden = os.path.join(HERE, "mix_oracle.json")
    cache = os.path.join(out, "mix-oracle.json")
    known = {}
    for path in ([] if refresh else [golden, cache]):
        if os.path.exists(path):
            known.update({v["key"]: v["rows"] for v in json.load(open(path)).values()})
    todo = [n for n in names if keys[n] not in known]
    if todo:
        log(f"computing {len(todo)} query-mix oracle counts")
        t0 = time.time()
        counts = oracle.mix_counts(oracle.connect(threads=SLOTS), tables_dir, sql, todo)
        known.update({keys[n]: counts[n] for n in todo})
        log(f"query-mix oracle in {time.time() - t0:.1f} s")
        entries = {n: {"key": keys[n], "rows": known[keys[n]]} for n in names}
        with open(cache + ".tmp", "w") as f:
            json.dump(entries, f, indent=1)
        os.replace(cache + ".tmp", golden if refresh else cache)
    return {n: known[keys[n]] for n in names}


# ---- setup -------------------------------------------------------------------

def setup(args, root, out, work, pip):
    """Generate the workload's inputs and compute its oracle, SETUP_REPS
    times; returns (median seconds, expected outputs, spec fields)."""
    names = [n for n, _ in MIX]
    in_dir = os.path.join(work, "inputs")
    walls = []
    for _ in range(SETUP_REPS):
        shutil.rmtree(in_dir, ignore_errors=True)
        t0 = time.perf_counter()
        if args.workload == "query_mix":
            gen.write_mix_tables(in_dir, MIX_TABLE_SEED)
            expected = mix_oracle(root, out, in_dir, names)
            order = names[:]
            random.Random(args.seed).shuffle(order)
            fields = {"queries": order}
        else:
            con = oracle.connect(threads=SLOTS)
            hot = args.workload == "pip_hot"
            pts = gen.write_docs(in_dir, args.seed, pip["docs"], hot, pip["regions"])
            expected = oracle.pip_stats(con, pts, in_dir)
            con.close()
            gen.write_docs(os.path.join(in_dir, "warmup"), args.seed + 1,
                           pip["docs"] // WARMUP_SHARE, hot, pip["regions"])
            fields = {k: pip[k] for k in ("zoom", "salt", "hot_threshold")}
            fields["warmup_hot_threshold"] = pip["hot_threshold"] // WARMUP_SHARE
        walls.append(time.perf_counter() - t0)
    fields["in_dir"] = in_dir
    if args.trace:
        if args.workload == "query_mix":
            # the kernel microbenchmarks need a doc->tile input
            kdir = os.path.join(work, "kernel-inputs")
            gen.write_docs(kdir, args.seed, 20_000, False, pip["regions"])
            fields["kernel_dir"] = kdir
        else:
            fields["kernel_dir"] = in_dir
    return statistics.median(walls), expected, fields


# ---- JVM ---------------------------------------------------------------------

def run_jvm(classpath, work, spec):
    spec_path = os.path.join(work, "spec.json")
    result_path = os.path.join(work, "result.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
    for m in JDK_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main", spec_path, result_path]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)

        def stop(signum, frame):
            p.kill()
            p.wait()
            sys.exit(128 + signum)

        previous = signal.signal(signal.SIGTERM, stop)
        try:
            code = p.wait(timeout=150)
        except subprocess.TimeoutExpired:
            code = -9
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
            signal.signal(signal.SIGTERM, previous)
    if code != 0 or not os.path.exists(result_path):
        tail = open(log_path, errors="replace").read().splitlines()[-30:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail(f"JVM exited with {code}")
    return json.load(open(result_path))


# ---- checks and metrics --------------------------------------------------------

def check(args, res, expected):
    """Mark each job right or wrong against the oracle; returns the jobs."""
    jobs = [j for p in res["passes"] for j in p["jobs"]]
    con = oracle.connect(threads=SLOTS) if args.workload != "query_mix" else None
    for j in jobs:
        if args.workload == "query_mix":
            j["correct"] = j["ok"] and j["rows"] == expected[j["name"]]
        else:
            got = oracle.committed_stats(con, j["stage_dir"]) if j["ok"] else None
            j["correct"] = bool(j["ok"] and j["resume_ok"] and j["rows"] == expected[0]
                                and got == expected)
        if not j["correct"]:
            log(f"wrong: {j['name']} ok={j['ok']} rows={j['rows']} error={j['error']!r}")
    return jobs


def pass_wall(args, p):
    # the mix's pass time is the sum of its query walls (cache clears excluded)
    return sum(j["wall_s"] for j in p["jobs"]) if args.workload == "query_mix" else p["wall_s"]


def end_to_end(args, res, setup_s, jobs):
    walls = [j["wall_s"] for j in jobs]
    return {
        "setup_s": setup_s + res["session_s"] + res["warmup_s"],
        "pass_s": statistics.median(pass_wall(args, p) for p in res["passes"]),
        "job_geomean_s": math.exp(statistics.fmean(math.log(max(w, 1e-9)) for w in walls)),
        "cpu_s": statistics.median(p["cpu_s"] for p in res["passes"]),
        "retained_heap_mb": res["retained_heap_mb"],
    }


def per_layer(args, res, jobs):
    spans = res["spans"]
    kids = {}
    for i, s in enumerate(spans):
        kids.setdefault(s["parent"], []).append(i)

    def wall(i):
        return (spans[i]["end_ns"] - spans[i]["start_ns"]) / 1e9

    def ctr(i, k):
        return spans[i]["counters"].get(k, 0)

    def child(i, name):
        return [c for c in kids.get(i, []) if spans[c]["name"] == name]

    m = {name: 0.0 for name, _ in PER_LAYER}
    per_pass = []  # one dict of layer figures per pass; the metric is their median
    table = []
    for p in res["passes"]:
        ps = p["span"]
        f = {"trace.pass_s": pass_wall(args, p)}
        for k, name in [("analysis_ms", "spark.analysis_s"), ("optimization_ms", "spark.optimization_s"),
                        ("planning_ms", "spark.planning_s"), ("busy_ms", "spark.exec_s"),
                        ("gc_ms", "spark.gc_s")]:
            f[name] = ctr(ps, k) / 1000.0
        for k, name in [("jobs", "spark.jobs"), ("stages", "spark.stages"), ("tasks", "spark.tasks"),
                        ("shuffle_read_bytes", "spark.shuffle_read_bytes"),
                        ("spill_bytes", "spark.spill_bytes")]:
            f[name] = ctr(ps, k)
        f["spark.task_cpu_s"] = ctr(ps, "task_cpu_ns") / 1e9
        f["spark.busy_frac"] = ctr(ps, "task_run_ms") / 1000.0 / (wall(ps) * res["slots"])
        named = 0.0
        for j in p["jobs"]:
            js = j["span"]
            layers = {c: sum(wall(x) for x in child(js, c)) for c in
                      ("functions.parse", "sj.build", "sj.exec", "io.commit",
                       "entry.build", "spark.plan", "spark.exec")}
            named += sum(layers.values())
            table.append({"job": j["name"], "wall_s": j["wall_s"],
                          **{k: v for k, v in layers.items() if v > 0},
                          "other_s": j["wall_s"] - sum(layers.values())})
            if args.workload == "query_mix":
                fam = dict(MIX)[j["name"]]
                f[f"family.{fam}_s"] = f.get(f"family.{fam}_s", 0.0) + j["wall_s"]
                f["entry.build_s"] = f.get("entry.build_s", 0.0) + layers["entry.build"]
                f["entry.eager_jobs"] = f.get("entry.eager_jobs", 0) + sum(
                    ctr(x, "jobs") for x in child(js, "entry.build"))
                if j["name"] in LOOP_QUERIES:
                    f["loop.stages"] = f.get("loop.stages", 0) + ctr(js, "stages")
            else:
                sj = child(js, "sj.build") + child(js, "sj.exec")
                commit = child(js, "io.commit")
                f["functions.parse_s"] = layers["functions.parse"]
                f["sj.build_s"] = layers["sj.build"]
                f["sj.exec_s"] = layers["sj.exec"]
                f["sj.eager_jobs"] = sum(ctr(x, "jobs") for x in child(js, "sj.build"))
                f["sj.shuffle_bytes"] = sum(ctr(x, "shuffle_write_bytes") for x in sj)
                recs = sum(ctr(x, "shuffle_write_records") for x in sj)
                f["sj.useful_ratio"] = j["rows"] / recs if recs else 0.0
                f["io.commit_s"] = layers["io.commit"]
                f["io.bytes_written"] = sum(ctr(x, "output_bytes") for x in commit)
                f["io.files"] = j["files"]
        f["trace.attributed_frac"] = named / f["trace.pass_s"] if f["trace.pass_s"] else 0.0
        per_pass.append(f)
    for name in {k for f in per_pass for k in f}:
        m[name] = statistics.median(f.get(name, 0.0) for f in per_pass)
    m.update(res["kernels"])
    m["host.steal_frac"] = res["host"]["steal_frac"]
    m["host.calib_ns"] = res["host"]["calib_ns"]
    m["host.vmhwm_mb"] = res["vmhwm_mb"]
    m["failed_frac"] = sum(not j["correct"] for j in jobs) / len(jobs)
    return m, table


def write_trace(out, args, res, table, metrics):
    d = os.path.join(out, "trace")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "metrics": metrics,
                   "attribution": table, "spans": res["spans"]}, f)
    log(f"trace written to {path}")
    cols = ["functions.parse", "sj.build", "sj.exec", "io.commit",
            "entry.build", "spark.plan", "spark.exec", "other_s"]
    used = [c for c in cols if any(c in r for r in table)]
    log(f"{'job':28s} {'wall_s':>8s} " + " ".join(f"{c:>15s}" for c in used))
    for r in table:
        log(f"{r['job']:28s} {r['wall_s']:8.3f} "
            + " ".join(f"{r.get(c, 0.0):15.3f}" for c in used))


def prepare():
    """Check that the working directory is a checkout, build if needed and
    fill the query-mix oracle cache; returns (root, build dir, classpath)."""
    root = os.getcwd()
    for need in ("src/main/scala/graft/SparkEntry.scala", "oracle_sql.json"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"not a checkout of the engine: {need} is missing (run from the repository root)")
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(root, ".bench_build"))
    os.makedirs(out, exist_ok=True)
    classpath = build(root, out)
    if not os.path.exists(os.path.join(out, "mix.ready")):
        # first run in this checkout: check or fill the query-mix oracle
        # cache too, so no measured run pays minutes of DuckDB
        tables = os.path.join(out, "mix-tables")
        gen.write_mix_tables(tables, MIX_TABLE_SEED)
        mix_oracle(root, out, tables, [n for n, _ in MIX])
        shutil.rmtree(tables, ignore_errors=True)
        open(os.path.join(out, "mix.ready"), "w").close()
    return root, out, classpath


def work_dir(out):
    return os.path.join(out, f"work-{os.getpid()}")


def measure(args, root, out, classpath, pip=PIP):
    """One run: set up, run the JVM, check every output. Returns the result
    object to print, the JVM's result, the checked jobs, the oracle's
    expectation and the work directory (left in place for the caller)."""
    work = work_dir(out)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    setup_s, expected, fields = setup(args, root, out, work, pip)
    spec = {"workload": args.workload, "seconds": args.seconds, "trace": args.trace,
            "slots": SLOTS, "work_dir": work,
            "min_passes": 1 if args.workload == "query_mix" else 3, **fields}
    res = run_jvm(classpath, work, spec)
    log(f"setup: inputs+oracle {setup_s:.2f} s, session {res['session_s']:.2f} s, "
        f"warmup {res['warmup_s']:.2f} s; {len(res['passes'])} passes in {res['window_s']:.1f} s; "
        f"host: steal {res['host']['steal_frac']:.1%}, calibration loop {res['host']['calib_ns']:.2f} ns, "
        f"JVM VmHWM {res['vmhwm_mb']:.0f} MB")
    jobs = check(args, res, expected)
    slow = sorted(jobs, key=lambda j: -j["wall_s"])[:8]
    log("slowest jobs: " + ", ".join(f"{j['name']} {j['wall_s']:.2f}s" for j in slow))
    failed = sum(not j["correct"] for j in jobs)
    if args.trace:
        values, table = per_layer(args, res, jobs)
        write_trace(out, args, res, table, values)
        units = dict(PER_LAYER)
    else:
        values = end_to_end(args, res, setup_s, jobs)
        units = END_TO_END
    payload = {"correct": failed == 0, "attempted": len(jobs), "failed": failed,
               "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}
    return payload, res, jobs, expected, work


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--refresh-mix-oracle", action="store_true",
                    help="recompute every query-mix oracle count into mix_oracle.json and exit")
    args = ap.parse_args()
    root, out, classpath = prepare()
    if args.refresh_mix_oracle:
        tables = os.path.join(out, "mix-tables")
        gen.write_mix_tables(tables, MIX_TABLE_SEED)
        mix_oracle(root, out, tables, [n for n, _ in MIX], refresh=True)
        shutil.rmtree(tables, ignore_errors=True)
        return
    if args.workload is None or args.seed is None or args.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    try:
        payload = measure(args, root, out, classpath)[0]
    finally:
        shutil.rmtree(work_dir(out), ignore_errors=True)
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
