#!/usr/bin/env python3
"""The repo's benchmark: one closed-loop client against the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It compiles `src/main` and the
benchmark JVM in `perfbench/scala` into `.bench_build/` (once per source
state), makes the workload's inputs from the seed, runs one benchmark JVM,
checks every delivered result, and prints a summary followed by one
JSON line: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`). The full record of a run, spans included, is written to
`.bench_build/results/`.

Workloads (see README.md for why each exists):
  recsys-heavy  3 pin- and shuffle-heavy recommender queries at sf0.01,
                in a seed-permuted order
  medallion     seeded bronze -> silver -> gold backfill, then hourly
                increments through the streaming jobs
"""
import argparse
import contextlib
import hashlib
import json
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_bronze  # noqa: E402
import stats  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")


def spark_home():
    """$SPARK_HOME, else the installation spark-submit on PATH belongs to."""
    submit = shutil.which("spark-submit")
    return os.environ.get("SPARK_HOME") or (
        os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if submit else "")


SPARK_JARS = os.path.join(spark_home(), "jars")
DATA = os.path.join(HERE, "data")
JVM_DEADLINE_S = 165      # a run ends inside 180 s after any build
BUILD_DEADLINE_S = 840    # the first run in a checkout also compiles
HEAP = "3g"
CPUS = os.cpu_count() or 4

RECSYS_POOL = "q219_item_cf q223_association_rules q264_apriori_triples".split()

# Medallion corpus: 6 backfill hours, then one increment per 4 s of
# --seconds (at least 3), each a new event-time hour.
MEDALLION = dict(backfill_hours=6, events_per_backfill_hour=1000,
                 events_per_increment=500, n_users=400, n_products=300)


def jvm_flags(heap=HEAP):
    """build.sbt's javaOptions, with a fixed heap."""
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    return [*(a for p in opens for a in ("--add-opens", f"{p}=ALL-UNNAMED")),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Xmx{heap}", f"-Xms{heap}", "-XX:+AlwaysPreTouch",
            "-XX:MetaspaceSize=512m", "-XX:ReservedCodeCacheSize=1g",
            "-XX:+UseCodeCacheFlushing", "-XX:TieredStopAtLevel=1"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def scala_sources(rel):
    out = []
    for d, _, files in os.walk(os.path.join(ROOT, rel)):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def scalac(out_dir, classpath, files):
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{SPARK_JARS}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", out_dir,
           "-cp", classpath, *files]
    r = subprocess.run(cmd, capture_output=True, text=True,
                       timeout=BUILD_DEADLINE_S)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail(f"compile failed for {out_dir}")


def build():
    """Compile src/main and the benchmark JVM once per source state; returns
    the classpath."""
    main, bench = scala_sources("src/main"), scala_sources("perfbench/scala")
    if not main:
        fail("no src/main/**/*.scala here: run from the root of a checkout")
    if not os.path.isdir(SPARK_JARS):
        fail(f"Spark jars not found at {SPARK_JARS} (set SPARK_HOME)")
    h = hashlib.sha256()
    for f in main + bench:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    main_cls, bench_cls = (os.path.join(BUILD, "main-classes"),
                           os.path.join(BUILD, "bench-classes"))
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        os.makedirs(BUILD, exist_ok=True)
        t0 = time.time()
        scalac(main_cls, f"{SPARK_JARS}/*", main)
        scalac(bench_cls, f"{main_cls}:{SPARK_JARS}/*", bench)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log(f"built in {time.time() - t0:.1f}s")
    return f"{bench_cls}:{main_cls}:{SPARK_JARS}/*"


# --------------------------------------------------------------- inputs

def recsys_requests(passes, seed):
    """Whole passes over the pool, each in a seed-permuted order."""
    rng = random.Random(seed)
    return [q for _ in range(passes)
            for q in rng.sample(RECSYS_POOL, len(RECSYS_POOL))]


def plan_for(args, run_dir):
    plan = {"cpus": CPUS, "trace": bool(args.trace),
            "local_dir": os.path.join(run_dir, "local"),
            "warmup_queries": [],
            "warmup_dir": os.path.join(DATA, "sf0.001"),
            "timeout_s": 120,
            "check_dir": os.path.join(run_dir, "check"),
            "out": os.path.join(run_dir, "result.json")}
    if args.workload == "recsys-heavy":
        # The untimed warm-up requests the pool once on the sf0.001
        # tables: timed requests then measure execution, not first-use
        # JIT and codegen (a cold first pass spread 13 % over five seeds).
        plan.update(mode="queries", pool=RECSYS_POOL,
                    warmup_queries=RECSYS_POOL,
                    sf_dir=os.path.join(DATA, "sf0.01"),
                    requests=recsys_requests(max(1, args.seconds // 10),
                                             args.seed))
    else:
        corpus = os.path.join(run_dir, "corpus")
        manifest = gen_bronze.generate(
            corpus, args.seed, increments=max(3, args.seconds // 10),
            **MEDALLION)
        plan.update(mode="medallion", manifest=manifest, medallion={
            "work_dir": os.path.join(run_dir, "work"),
            "bronze_root": os.path.join(corpus, "bronze"),
            "hours": manifest["hours"]})
    return plan


# ------------------------------------------------------------------ run

def cpu_ticks():
    """The host's aggregate CPU tick counters (/proc/stat), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_frac(before, after):
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_ticks() readings: on a shared host this, not the program, is
    what moves a run's times most."""
    if not before or not after or len(after) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def run_jvm(classpath, plan, run_dir, budget_s, heap=HEAP):
    os.makedirs(plan["local_dir"], exist_ok=True)
    plan_path = os.path.join(run_dir, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    cmd = ["java", *jvm_flags(heap), f"-Djava.io.tmpdir={plan['local_dir']}",
           "-cp", classpath, "perfbench.Harness", plan_path]
    env = dict(os.environ, SPARK_LOCAL_DIRS=plan["local_dir"])
    t0, ticks = time.time(), cpu_ticks()
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=out,
                             env=env, start_new_session=True)
        try:
            p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            log(f"benchmark JVM killed after {budget_s:.0f}s")
    if p.returncode != 0 or not os.path.exists(plan["out"]):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"benchmark JVM failed (exit {p.returncode})", 3)
    with open(plan["out"]) as f:
        res = json.load(f)
    res["process_s"] = time.time() - t0
    res["steal_frac"] = steal_frac(ticks, cpu_ticks())
    return res


def check_queries(plan):
    """DuckDB oracle comparison of every pool query's delivered rows
    (tools/check_oracle.py's canonical comparison). Returns the set of
    queries whose rows are wrong or missing."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    import check_oracle
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{plan['sf_dir']}/{t}.parquet')")
    with open(os.path.join(plan["check_dir"], "oracle_sql.json")) as f:
        oracles = json.load(f)
    bad = set()
    with contextlib.redirect_stdout(sys.stderr):
        for q in plan["pool"]:
            try:
                status, _ = check_oracle.check_one(
                    con, plan["check_dir"], q, oracles)
            except Exception as e:  # missing parquet, oracle error
                log(f"check {q}: {type(e).__name__}: {e}")
                status = "fail"
            if status != "pass":
                bad.add(q)
    return bad


def check_medallion(plan, res):
    """Silver/gold counts against the generator's manifest. Returns the
    ids of wrong backfills and increments (`oneshot` for the final
    report's equality with a one-pass aggregation)."""
    man, m, bad = plan["manifest"], res["medallion"], set()
    b = m["backfill"]
    for topic, exp in man["silver"].items():
        got = b["topics"].get(topic, {})
        if (got.get("read"), got.get("processed")) != (
                exp["raw"], exp["processed"]):
            log(f"backfill silver {topic}: {got} != {exp}")
            bad.add(b["id"])
    if b["gold_rows"] != man["gold_rows"]:
        log(f"backfill gold rows {b['gold_rows']} != {man['gold_rows']}")
        bad.add(b["id"])
    for inc, exp in zip(m["increments"], man["hours"]):
        if (inc["silver_rows"], inc["report_rows"]) != (
                exp["silver"], exp["report_rows"]):
            log(f"increment {inc['id']}: silver {inc['silver_rows']} "
                f"report {inc['report_rows']} != {exp}")
            bad.add(inc["id"])
    if not m["incremental_matches_one_shot"]:
        log("incremental gold report differs from the one-shot report")
        bad.add("oneshot")
    return bad


def dir_bytes(path):
    n = files = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.startswith("part-"):
                n += os.path.getsize(os.path.join(d, f))
                files += 1
    return n, files


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["recsys-heavy", "medallion"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "tools", "check_oracle.py")):
        fail("tools/check_oracle.py not found: run from the root of a checkout")

    classpath = build()
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-"
                           f"{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        plan = plan_for(args, run_dir)
        res = run_jvm(classpath, plan, run_dir, JVM_DEADLINE_S)
        if plan["mode"] == "queries":
            bad = check_queries(plan)
            reqs = res["requests"] + res.get("check_requests", [])
            failed = sum(1 for r in reqs if not r["ok"] or r["query"] in bad)
            attempted = len(reqs)
        else:
            bad = check_medallion(plan, res)
            m = res["medallion"]
            units = [m["backfill"]] + m["increments"]
            failed = sum(1 for u in units if not u["ok"] or u["id"] in bad)
            failed += "oneshot" in bad
            attempted = len(units) + 1
            res["written"] = dir_bytes(os.path.join(
                plan["medallion"]["work_dir"], "backfill"))
        if res["errors"]:
            log("errors: " + "; ".join(res["errors"][:5]))
        report = stats.report(args, plan, res, CPUS, attempted, failed)
        report["host"] = host_context(args, plan, res)
        if res["steal_frac"] is not None:
            report["workload"]["host_steal_frac"] = (res["steal_frac"], "ratio")
        if args.trace:
            report["workload"].update(trace_overhead(args, res["wall_s"]))
        save_result(args, report, res)
        print_summary(report)
        metrics = report["per_layer" if args.trace else "end_to_end"]
        print(json.dumps({
            "correct": failed == 0 and not res["errors"],
            "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def source_commit():
    """The git commit, or a hash of src/main in a checkout without git."""
    if os.path.exists(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True)
        if r.stdout.strip():
            return r.stdout.strip()
    h = hashlib.sha256()
    for f in scala_sources("src/main"):
        with open(f, "rb") as fh:
            h.update(fh.read())
    return "src-sha256:" + h.hexdigest()[:16]


def host_context(args, plan, res):
    return {"nproc": CPUS, "task_threads": res.get("task_threads"),
            "heap": HEAP, "heap_max_mb": res.get("heap_max_mb"),
            "jvm_args": res.get("jvm_args"), "commit": source_commit(),
            "spark_version": res.get("spark_version"),
            "java": res.get("java_version"), "python": platform.python_version(),
            "machine": platform.machine(), "workload": args.workload,
            "input": (os.path.basename(plan["sf_dir"]) if "sf_dir" in plan
                      else "bronze {} clickstream lines, {} hours".format(
                          plan["manifest"]["silver"]["clickstream"]["raw"],
                          len(plan["manifest"]["hours"]))),
            "seed": args.seed, "seconds": args.seconds, "trace": args.trace}


def trace_overhead(args, traced_wall):
    """Traced wall_s against the median untraced wall_s of this
    workload's earlier runs in this checkout, when there are any."""
    d = os.path.join(BUILD, "results")
    walls = []
    for f in os.listdir(d) if os.path.isdir(d) else []:
        if f.startswith(f"{args.workload}-seed") and "-trace0-" in f:
            with open(os.path.join(d, f)) as fh:
                walls.append(json.load(fh)["report"]["end_to_end"]["wall_s"][0])
    if not walls:
        return {}
    base = statistics.median(walls)
    return {"trace_overhead_frac": (traced_wall / base - 1.0, "ratio"),
            "trace_overhead_base_runs": (len(walls), "count")}


def save_result(args, report, res):
    d = os.path.join(BUILD, "results")
    os.makedirs(d, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(T_START)}.json"
    with open(os.path.join(d, name), "w") as f:
        json.dump({"report": report, "raw": res}, f)
    report["result_file"] = os.path.relpath(os.path.join(d, name), ROOT)


def print_summary(report):
    h = report["host"]
    print(f"# {h['workload']} seed={h['seed']} trace={h['trace']} "
          f"nproc={h['nproc']} threads={h['task_threads']} heap={h['heap']} "
          f"spark={h['spark_version']} commit={h['commit']}")
    for section in ("end_to_end", "workload", "per_layer"):
        for k, (v, u) in report.get(section, {}).items():
            print(f"{section:10s} {k:40s} {v:14.6g} {u}")
    for layer, s in report.get("self_time", {}).items():
        print(f"self_time  {layer:40s} {s:14.6g} s")
    print(f"# result file: {report['result_file']}")


if __name__ == "__main__":
    main()
