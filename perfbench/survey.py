#!/usr/bin/env python3
"""One-shot traffic survey: every registry query once, traced.

    python3 perfbench/survey.py <sfDir> <out.json>

Run from the root of a checkout. Builds like run.py, then requests
every registered query once (construct, plan, collect, release) in one
benchmark JVM, and writes per query: delivered seconds, jobs launched
during construction, live pins and pinned MB before release, shuffle
bytes and result rows, plus the host context. The recsys-heavy pool
stands on this record.
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

HEAP = "6g"   # build.sbt's default; sf0.1 results are collected whole


def main():
    sf_dir, out_path = os.path.abspath(sys.argv[1]), sys.argv[2]
    classpath = run.build()
    run_dir = os.path.join(run.BUILD, "runs", f"survey-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    plan = {"cpus": run.CPUS, "trace": True, "mode": "survey",
            "local_dir": os.path.join(run_dir, "local"),
            "warmup_queries": ["q05_value_buckets"],
            "warmup_dir": os.path.join(run.DATA, "sf0.001"),
            "timeout_s": 600, "sf_dir": sf_dir, "requests": [],
            "out": os.path.join(run_dir, "result.json")}
    t0 = time.time()
    res = run.run_jvm(classpath, plan, run_dir, budget_s=4 * 3600, heap=HEAP)
    counts = res.get("counts", {})
    rows = {}
    for r in res["requests"]:
        q = r["query"]

        def c(phase, field):
            return counts.get(f"{q}/{phase}", {}).get(field, 0)

        shuffle = sum(c(p, "shuffle_write_mb") for p in
                      ("construct", "plan", "deliver"))
        rows[q] = {"ok": r["ok"], "delivered_s": round(r["latency_s"], 3),
                   "construct_jobs": c("construct", "jobs"),
                   "pins": r.get("pins"),
                   "pinned_mb": round(r.get("pinned_mb", 0.0), 3),
                   "shuffle_write_mb": round(shuffle, 3),
                   "result_rows": r.get("rows")}
    host = {"nproc": run.CPUS, "task_threads": res.get("task_threads"),
            "heap_max_mb": res.get("heap_max_mb"),
            "spark_version": res.get("spark_version"),
            "java": res.get("java_version"),
            "jvm_flags": run.jvm_flags(HEAP),
            "commit": run.source_commit(),
            "sf_dir": os.path.basename(sf_dir.rstrip("/")),
            "survey_s": round(time.time() - t0, 1),
            "delivered_total_s": round(sum(v["delivered_s"]
                                           for v in rows.values()), 1),
            "errors": res["errors"]}
    with open(out_path, "w") as f:
        json.dump({"host": host, "queries": rows}, f, indent=1,
                  sort_keys=True)
    print(json.dumps(host))


if __name__ == "__main__":
    main()
