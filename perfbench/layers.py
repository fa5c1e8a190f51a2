"""Per-layer metrics of a traced run, computed from its spans.

The harness records a span per pass, per operation (with the planning,
codegen and storage counters read at its boundaries), per builder call,
per Spark job (its call-site file and graft module, the phase it ran in,
and the summed metrics of its tasks) and per streaming trigger. Every
figure here is per warm pass unless its name says otherwise; planning and
codegen compile time are taken from the cold pass, where they are paid.
"""
import json
import os
import statistics
from pathlib import Path

MB = 1024 * 1024

UNITS = {
    "ops.build_s": "s", "ops.build_jobs": "count",
    "spark.plan_s": "s", "spark.codegen_compile_s": "s",
    "spark.codegen_max_method_bytes": "bytes",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_overhead_s": "s", "spark.input_mb": "MB",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB", "spark.peak_exec_mb": "MB", "spark.gc_s": "s",
    "operators.job_s": "s", "operators.cpu_s": "CPU-s",
    "sources.job_s": "s", "sources.cpu_s": "CPU-s",
    "streaming.trigger_s": "s", "streaming.add_batch_s": "s", "streaming.wal_s": "s",
    "streaming.batch_s": "s", "streaming.docs_per_s": "docs/s",
    "state.files": "count", "state.mb": "MB",
    "storage.checkpoint_mb": "MB", "storage.peak_mb": "MB",
}


def _pass(span_id):
    """Pass number of a span id such as 'p3/q60_dedup_clusters/build'."""
    head = span_id.split("/", 1)[0]
    return int(head[1:]) if head[:1] == "p" and head[1:].isdigit() else None


def _tree(root):
    files, size = 0, 0
    for d, _, fs in os.walk(root):
        for f in fs:
            files += 1
            size += os.path.getsize(os.path.join(d, f))
    return files, size


def metrics(res, trace_path):
    spans = [json.loads(line) for line in Path(trace_path).read_text().splitlines() if line]
    n = len(res["passes"]) - 1
    # Job and trigger ids are global; they belong to the pass of their parent.
    warm = [s for s in spans
            if (_pass(s["parent"] if s["kind"] in ("job", "trigger") else s["id"]) or 0) >= 1]
    cold_ops = [s for s in spans if s["kind"] == "op" and _pass(s["id"]) == 0]
    ops = [s for s in warm if s["kind"] == "op"]
    jobs = [s for s in warm if s["kind"] == "job"]
    triggers = [s for s in warm if s["kind"] == "trigger"]

    def per_pass(xs):
        return sum(xs) / n

    def dur(s):
        return (s["end_ms"] - s["start_ms"]) / 1e3

    def module(name, field):
        return per_pass(f(j) for j in jobs if j["module"] == name for f in [field])

    def trig(*keys):
        return per_pass(sum(t["duration_ms"].get(k, 0) for k in keys) / 1e3 for t in triggers)

    last = max(s["pass"] for s in res["state"]) if res["state"] else None
    state = [_tree(s["dir"]) for s in res["state"] if s["pass"] == last]
    batches = [m for m in res["microbatches"] if m["pass"] >= 1]
    latency = [m["latency_s"] for m in batches]
    v = {
        "ops.build_s": per_pass(dur(s) for s in warm if s["kind"] == "build"),
        "ops.build_jobs": per_pass(1 for j in jobs if j["phase"] == "build"),
        "spark.plan_s": sum(s["plan_ms"] for s in cold_ops) / 1e3,
        "spark.codegen_compile_s": sum(s["codegen_compile_ns"] for s in cold_ops) / 1e9,
        "spark.codegen_max_method_bytes": max(
            [s["codegen_max_method_bytes"] for s in spans if s["kind"] == "op"] or [0]),
        "spark.jobs": per_pass(1 for _ in jobs),
        "spark.stages": per_pass(j["stages"] for j in jobs),
        "spark.tasks": per_pass(j["tasks"] for j in jobs),
        "spark.task_overhead_s": per_pass(j["overhead_ms"] for j in jobs) / 1e3,
        "spark.input_mb": per_pass(j["input_bytes"] for j in jobs) / MB,
        "spark.shuffle_write_mb": per_pass(j["shuffle_write_bytes"] for j in jobs) / MB,
        "spark.shuffle_read_mb": per_pass(j["shuffle_read_bytes"] for j in jobs) / MB,
        "spark.spill_mb": per_pass(j["spill_bytes"] for j in jobs) / MB,
        "spark.peak_exec_mb": max([j["peak_exec_bytes"] for j in jobs] or [0]) / MB,
        "spark.gc_s": statistics.median(p["gc_s"] for p in res["passes"][1:]),
        "operators.job_s": module("operators", dur),
        "operators.cpu_s": module("operators", lambda j: j["cpu_ns"] / 1e9),
        "sources.job_s": module("sources", dur),
        "sources.cpu_s": module("sources", lambda j: j["cpu_ns"] / 1e9),
        "streaming.trigger_s": trig("triggerExecution"),
        "streaming.add_batch_s": trig("addBatch"),
        "streaming.wal_s": trig("walCommit", "commitOffsets"),
        "streaming.batch_s": statistics.median(latency) if latency else 0.0,
        "streaming.docs_per_s": (sum(m["rows"] for m in batches) / sum(latency)
                                 if latency else 0.0),
        "state.files": sum(f for f, _ in state),
        "state.mb": sum(b for _, b in state) / MB,
        "storage.checkpoint_mb": per_pass(s["storage_bytes"] for s in ops) / MB,
        "storage.peak_mb": statistics.median(
            p["peak_storage_bytes"] for p in res["passes"][1:]) / MB,
    }
    return {k: (v[k], UNITS[k]) for k in UNITS}
