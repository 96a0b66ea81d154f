"""Metric arithmetic over what the JVM side records (result.json and
spans.jsonl): end-to-end metrics per pass, per-layer metrics per traced
pass, and the interval arithmetic behind the scheduler metrics.
"""
import statistics

END_TO_END = {"setup_s": "s", "wall_s": "s", "cpu_s": "s", "live_heap_mb": "MB",
              "write_amp": "count"}

# the engine packages the workloads' ops live in (run.WORKLOADS)
MODULES = ["etl", "sources", "streaming", "catalog", "dedup", "graph"]

PER_LAYER = (
    [f"{m}.busy_s" for m in MODULES] + [f"{m}.ops" for m in MODULES] + [
        "planning.analysis_s", "planning.optimizer_s", "planning.physical_s",
        "planning.exchanges",
        "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
        "scheduler.job_busy_s", "scheduler.driver_gap_s",
        "scheduler.task_failures", "scheduler.stage_retries",
        "scheduler.task_ok_ratio",
        "driver.cpu_s", "jvm.jit_s", "jvm.gc_s",
        "executor.run_s", "executor.cpu_s", "executor.gc_s",
        "executor.peak_mem_bytes",
        "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.write_records",
        "shuffle.fetch_wait_s",
        "memory.spill_mem_bytes", "memory.spill_disk_bytes",
        "scan.files_bytes", "scan.rows", "sink.output_bytes",
        "sink.output_records",
        "storage.leftover_blocks", "storage.leftover_cache_entries",
        "storage.leftover_dirs",
        "trace.overhead_ratio"])


def unit_of(name):
    """Unit of a per-layer metric, from its name's suffix."""
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


def union_length(intervals, lo, hi):
    """Length of the union of [start, end] intervals clipped to [lo, hi].
    Overlapping intervals (concurrent jobs) count once; an interval with
    no end (end < start) runs to hi."""
    clipped = sorted((max(s, lo), min(e if e >= s else hi, hi))
                     for s, e in intervals)
    total, cur_s, cur_e = 0, None, None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def job_busy_and_gap(op_span, job_spans):
    """(busy, gap) in seconds for one op: busy is the union of its jobs'
    intervals inside the op, gap is the op's wall minus busy."""
    lo, hi = op_span["start_ms"], op_span["end_ms"]
    busy = union_length([(j["start_ms"], j["end_ms"]) for j in job_spans], lo, hi)
    return busy / 1000.0, max(hi - lo - busy, 0) / 1000.0


def index_spans(spans):
    """Spans by id, and each op span's job spans by the op's id."""
    by_id = {s["id"]: s for s in spans}
    jobs_of = {}
    for s in spans:
        if s["name"].startswith("job:"):
            jobs_of.setdefault(s["parent"], []).append(s)
    return by_id, jobs_of


def pass_e2e(p, input_bytes):
    """End-to-end values of one pass."""
    return {
        "wall_s": sum(o["wall_s"] for o in p["ops"]),
        "cpu_s": sum(o["cpu_s"] for o in p["ops"]),
        "live_heap_mb": max(o["heap_mb"] for o in p["ops"]),
        "write_amp": p["output_bytes"] / input_bytes,
    }


def pass_layers(p, spans, counters, module_of):
    """Per-layer values of one traced pass."""
    by_id, jobs_of = index_spans(spans)
    v = {k: 0.0 for k in PER_LAYER}
    peak = 0
    for o in p["ops"]:
        m = module_of[o["op"]]
        v[f"{m}.busy_s"] += o["wall_s"]
        v[f"{m}.ops"] += 1
        busy, gap = job_busy_and_gap(by_id[o["span"]], jobs_of.get(o["span"], []))
        v["scheduler.job_busy_s"] += busy
        v["scheduler.driver_gap_s"] += gap
        c = counters.get(str(o["span"]), {})
        g = lambda k: c.get(k, 0)
        v["planning.analysis_s"] += g("analysis_ms") / 1000.0
        v["planning.optimizer_s"] += g("optimizer_ms") / 1000.0
        v["planning.physical_s"] += g("physical_ms") / 1000.0
        v["planning.exchanges"] += g("exchanges")
        v["scheduler.jobs"] += g("jobs")
        v["scheduler.stages"] += g("stages")
        v["scheduler.tasks"] += g("tasks")
        v["scheduler.task_failures"] += g("task_failures")
        v["scheduler.stage_retries"] += g("stage_retries")
        v["driver.cpu_s"] += o["cpu_s"] - g("exec_cpu_ns") / 1e9
        v["jvm.jit_s"] += o["jit_s"]
        v["jvm.gc_s"] += o["gc_s"]
        v["executor.run_s"] += g("exec_run_ms") / 1000.0
        v["executor.cpu_s"] += g("exec_cpu_ns") / 1e9
        v["executor.gc_s"] += g("exec_gc_ms") / 1000.0
        peak = max(peak, g("peak_exec_mem"))
        v["shuffle.write_bytes"] += g("shuffle_write_bytes")
        v["shuffle.read_bytes"] += g("shuffle_read_bytes")
        v["shuffle.write_records"] += g("shuffle_write_records")
        v["shuffle.fetch_wait_s"] += g("shuffle_fetch_wait_ms") / 1000.0
        v["memory.spill_mem_bytes"] += g("spill_mem_bytes")
        v["memory.spill_disk_bytes"] += g("spill_disk_bytes")
        v["scan.files_bytes"] += g("scan_files_bytes")
        v["scan.rows"] += g("scan_rows")
        v["sink.output_bytes"] += g("output_bytes")
        v["sink.output_records"] += g("output_records")
        v["storage.leftover_blocks"] += o["leftover_blocks"]
        v["storage.leftover_cache_entries"] += o["leftover_cache_entries"]
        v["storage.leftover_dirs"] += o["leftover_dirs"]
    v["executor.peak_mem_bytes"] = peak
    tasks = v["scheduler.tasks"]
    v["scheduler.task_ok_ratio"] = (
        (tasks - v["scheduler.task_failures"]) / tasks if tasks else 1.0)
    return v


def per_op(result, spans):
    """For each op, the median over traced passes of its wall and process
    CPU, the share of that CPU spent in executor tasks, the share of its
    wall outside any job (driver gap), and its shuffle and scan bytes."""
    by_id, jobs_of = index_spans(spans)
    rows = {}
    for p in result["passes"]:
        if not p["traced"]:
            continue
        for o in p["ops"]:
            c = result["counters"].get(str(o["span"]), {})
            _, gap = job_busy_and_gap(by_id[o["span"]], jobs_of.get(o["span"], []))
            exec_cpu = c.get("exec_cpu_ns", 0) / 1e9
            rows.setdefault(o["op"], []).append({
                "wall_s": o["wall_s"], "cpu_s": o["cpu_s"],
                "exec_cpu_share": exec_cpu / o["cpu_s"] if o["cpu_s"] else 0.0,
                "gap_share": gap / o["wall_s"] if o["wall_s"] else 0.0,
                "jobs": c.get("jobs", 0),
                "shuffle_bytes": c.get("shuffle_write_bytes", 0),
                "scan_bytes": c.get("scan_files_bytes", 0)})
    return {op: {k: statistics.median(r[k] for r in rs) for k in rs[0]}
            for op, rs in rows.items()}


def per_layer(result, spans, module_of):
    """Median over traced passes of each per-layer metric, plus the
    tracing overhead: median traced wall over median untraced wall."""
    traced = [p for p in result["passes"] if p["traced"]]
    untraced = [p for p in result["passes"] if not p["traced"]]
    rows = [pass_layers(p, spans, result["counters"], module_of) for p in traced]
    out = {k: statistics.median(r[k] for r in rows) for k in PER_LAYER
           if k != "trace.overhead_ratio"}
    wall = lambda ps: statistics.median(sum(o["wall_s"] for o in p["ops"]) for p in ps)
    out["trace.overhead_ratio"] = wall(traced) / wall(untraced)
    return out
