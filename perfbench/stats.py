"""Metric derivation for the benchmark: span self times, and the
end-to-end and per-layer tables built from one benchmark-JVM record."""
import statistics

# Which layer (repo module) each span's public call belongs to.
LAYER_OF = {
    "request": "harness", "construct": "queries", "plan": "extensions",
    "deliver": "spark", "release": "functions",
    "silver_clickstream": "app", "silver_user": "app",
    "silver_product": "app", "gold": "app", "land": "app",
    "incremental_silver": "app", "gold_incremental": "gold",
    "gold_report": "gold",
}


def self_times(spans):
    """Per span id: its duration minus the part of its interval that
    its child spans cover (children may overlap one another)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ns"], s["end_ns"]
        iv = sorted((max(a, c["start_ns"]), min(b, c["end_ns"]))
                    for c in kids.get(s["id"], []))
        covered, cur_a, cur_b = 0, None, None
        for x, y in iv:
            if y <= x:
                continue
            if cur_b is None or x > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = x, y
            else:
                cur_b = max(cur_b, y)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["id"]] = (b - a - covered) / 1e9
    return out


def median(xs):
    return statistics.median(xs) if xs else 0.0


def report(args, plan, res, cpus, attempted, failed):
    """End-to-end, workload-only and per-layer tables, and self time per
    layer, from one benchmark-JVM record."""
    spans = res["spans"]
    timed_reqs = {s["req"] for s in spans if s["name"] == "request"
                  and not s["req"].startswith(("check-", "warm-"))}
    timed = [s for s in spans if s["req"] in timed_reqs]
    phases = [s for s in timed if s["key"]]

    def dur(name_pred):
        return sum((s["end_ns"] - s["start_ns"]) / 1e9 for s in phases
                   if name_pred(s["name"]))

    keys = {s["key"]: s["name"] for s in phases}
    counts, pcs = res.get("counts", {}), res.get("phase_counters", {})

    def csum(field, name_pred=lambda n: True, src=None):
        src = counts if src is None else src
        return sum(src.get(k, {}).get(field, 0) for k, n in keys.items()
                   if name_pred(n))

    e2e = {"setup_s": ((res["timed_start_ms"] - res["jvm_start_ms"]) / 1e3, "s"),
           "wall_s": (res["wall_s"], "s")}
    extra = {}
    if plan["mode"] == "queries":
        lat = [r["latency_s"] for r in res["requests"]]
        rows = sum(r.get("rows", 0) for r in res["requests"])
        pins = sum(r.get("pins", 0) for r in res["requests"])
        pinned = sum(r.get("pinned_mb", 0.0) for r in res["requests"])
    else:
        m = res["medallion"]
        lat = [r["latency_s"] for r in m["increments"]]
        rows = sum(max(0, r["report_rows"]) for r in m["increments"])
        pins = pinned = 0
        extra["backfill_s"] = (m["backfill"]["latency_s"], "s")
        extra["increment_p50_s"] = (median(lat), "s")
    e2e["request_p50_s"] = (median(lat), "s")
    extra["requests"] = (len(lat), "count")
    extra["failed_frac"] = (failed / attempted if attempted else 0.0, "ratio")

    st = res.get("streaming", {})

    def ssum(f):
        return sum(v.get(f, 0) for v in st.values())

    def sdur(f):
        return sum(v.get("duration_ms", {}).get(f, 0) for v in st.values()) / 1e3

    man = plan.get("manifest", {})
    bronze_mb = man.get("bronze_bytes", 0) / 1e6
    written_b, files = res.get("written", (0, 0))
    topics = res.get("medallion", {}).get("backfill", {}).get("topics", {})
    shuffle_records = csum("shuffle_records")
    task_dur = csum("task_dur_s")
    layer = {
        "entry.session_s": (res["setup"]["session_s"], "s"),
        "entry.warmup_s": (res["setup"]["warmup_s"], "s"),
        "queries.construct_s": (dur(lambda n: n == "construct"), "s"),
        "queries.construct_jobs": (csum("jobs", lambda n: n == "construct"), "count"),
        "extensions.plan_s": (dur(lambda n: n == "plan"), "s"),
        "extensions.codegen_compiles": (csum("codegen_compiles", src=pcs), "count"),
        "extensions.codegen_compile_s": (csum("codegen_compile_ms", src=pcs) / 1e3, "s"),
        "extensions.file_cache_hits": (csum("file_cache_hits", src=pcs), "count"),
        "functions.pins": (pins, "count"),
        "functions.pinned_mb": (pinned, "MB"),
        "functions.materialize_task_s": (csum("task_run_s", lambda n: n == "construct"), "s"),
        "functions.release_s": (dur(lambda n: n == "release"), "s"),
        "spark.deliver_s": (dur(lambda n: n == "deliver"), "s"),
        "spark.peak_storage_mb": (res["peak_storage_mb"], "MB"),
        "spark.jobs": (csum("jobs"), "count"),
        "spark.stages": (csum("stages"), "count"),
        "spark.tasks": (csum("tasks"), "count"),
        "spark.task_cpu_s": (csum("task_cpu_s"), "s"),
        "spark.task_run_s": (csum("task_run_s"), "s"),
        "spark.task_wait_s": (csum("task_wait_s"), "s"),
        "spark.gc_s": (csum("gc_s"), "s"),
        "spark.slots_busy_frac": (task_dur / (cpus * res["wall_s"]), "ratio"),
        "spark.scan_mb": (csum("scan_mb"), "MB"),
        "spark.shuffle_write_mb": (csum("shuffle_write_mb"), "MB"),
        "spark.shuffle_read_mb": (csum("shuffle_read_mb"), "MB"),
        "spark.shuffle_records": (shuffle_records, "count"),
        "spark.spill_mb": (csum("spill_mb"), "MB"),
        "spark.failed_tasks": (csum("failed_tasks"), "count"),
        "spark.result_rows": (rows, "count"),
        "spark.shuffle_records_per_result_row": (
            shuffle_records / rows if rows else 0.0, "ratio"),
        "app.silver_clickstream_s": (dur(lambda n: n == "silver_clickstream"), "s"),
        "app.silver_users_s": (dur(lambda n: n == "silver_user"), "s"),
        "app.silver_products_s": (dur(lambda n: n == "silver_product"), "s"),
        "app.gold_s": (dur(lambda n: n == "gold"), "s"),
        "app.land_s": (dur(lambda n: n == "land"), "s"),
        "app.incremental_silver_s": (dur(lambda n: n == "incremental_silver"), "s"),
        "gold.incremental_s": (dur(lambda n: n == "gold_incremental"), "s"),
        "gold.report_s": (dur(lambda n: n == "gold_report"), "s"),
        "sources.bronze_mb": (bronze_mb, "MB"),
        "sources.written_mb": (written_b / 1e6, "MB"),
        "sources.files_written": (files, "count"),
        "sources.write_amp": (written_b / 1e6 / bronze_mb if bronze_mb else 0.0, "ratio"),
        "quality.clickstream_retention": (
            topics.get("clickstream", {}).get("quality", 0.0), "ratio"),
        "streaming.batches": (ssum("batches"), "count"),
        "streaming.input_rows": (ssum("input_rows"), "count"),
        "streaming.latest_offset_s": (sdur("latestOffset"), "s"),
        "streaming.query_planning_s": (sdur("queryPlanning"), "s"),
        "streaming.add_batch_s": (sdur("addBatch"), "s"),
        "streaming.wal_commit_s": (sdur("walCommit"), "s"),
        "streaming.empty_batch_frac": (
            ssum("empty_batches") / ssum("batches") if ssum("batches") else 0.0,
            "ratio"),
    }
    selfs = self_times(timed)
    by_layer = {}
    for s in timed:
        lay = LAYER_OF.get(s["name"], s["name"])
        by_layer[lay] = by_layer.get(lay, 0.0) + selfs[s["id"]]
    return {"end_to_end": e2e, "workload": extra,
            "per_layer": layer if args.trace else {},
            "self_time": by_layer if args.trace else {}}
