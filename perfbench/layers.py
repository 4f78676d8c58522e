"""Per-layer metrics of a traced run, rolled up from the harness record.

Every metric is a per-pass total over the traced timed passes, reported as
the median across those passes, except the kernel timings (their own
probe after the passes), `dimcache.computes_timed` (all timed passes) and
`trace.overhead_s` (median traced pass minus median untraced pass)."""
import benchlib

UNITS = {
    "queries.build_ms": "ms", "queries.eager_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.action_ms": "ms", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms",
    "exec.busy_frac": "ratio", "exec.gc_ms": "ms",
    "exec.shuffle_read_bytes": "B", "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B", "exec.failed_tasks": "count",
    "driver.idle_ms": "ms",
    "scan.bytes_read": "B", "scan.records_read": "count",
    "functions.minhash64_ns_per_row": "ns/row",
    "functions.polyhash31_ns_per_row": "ns/row",
    "functions.window_hash64_ns_per_row": "ns/row",
    "functions.dotf64_ns_per_row": "ns/row",
    "functions.l2sqf64_ns_per_row": "ns/row",
    "agg.tdigest_ns_per_row": "ns/row", "agg.topk_ns_per_row": "ns/row",
    "streaming.batches": "count", "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.latest_offset_ms": "ms", "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count", "streaming.state_mem_bytes": "B",
    "dimcache.computes_timed": "count",
    "jvm.gc_ms": "ms", "jvm.jit_ms": "ms", "codegen.compiles": "count",
    "io.read_bytes": "B", "io.write_bytes": "B",
    "trace.overhead_s": "s",
}

STAGE_SUMS = {
    "exec.tasks": "tasks", "exec.task_run_ms": "run_ms",
    "exec.task_cpu_ms": "cpu_ms", "exec.gc_ms": "gc_ms",
    "exec.shuffle_read_bytes": "shuffle_read_bytes",
    "exec.shuffle_write_bytes": "shuffle_write_bytes",
    "exec.spill_bytes": "spill_bytes", "exec.failed_tasks": "failed_tasks",
    "scan.bytes_read": "scan_bytes_read", "scan.records_read": "scan_records_read",
}
STREAM_DURATIONS = {
    "streaming.add_batch_ms": "addBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.latest_offset_ms": "latestOffset",
}
PASS_STATS = {"jvm.gc_ms": "jvm_gc_ms", "jvm.jit_ms": "jvm_jit_ms",
              "codegen.compiles": "codegen_compiles",
              "io.read_bytes": "io_read_bytes", "io.write_bytes": "io_write_bytes"}


def _within(t, spans):
    return any(s["start"] <= t <= s["end"] for s in spans)


def pass_metrics(pass_span, spans, index, kids, records, cores):
    """Totals of one pass's subtree."""
    queries = kids.get(pass_span["id"], [])
    m = {k: 0.0 for k in UNITS}
    action_ms = exec_run_ms = 0.0
    for q in queries:
        for c in kids.get(q["id"], []):
            if c["kind"] == "build":
                m["queries.build_ms"] += c["end"] - c["start"]
                m["queries.eager_jobs"] += len(kids.get(c["id"], []))
            elif c["kind"] in ("plan", "exec"):
                action_ms += c["end"] - c["start"]
            if c["kind"] == "exec":
                m["driver.idle_ms"] += benchlib.self_time(c, kids.get(c["id"], []))
                m["exec.jobs"] += len(kids.get(c["id"], []))
    m["exec.action_ms"] = action_ms
    stage_ids = set()
    exec_stage_ids = set()
    for s in spans:
        if s["kind"] != "stage":
            continue
        owner = index[index[s["parent"]]["parent"]]
        q = index.get(owner["parent"])
        if q is not None and q["parent"] == pass_span["id"]:
            stage_ids.add(s["stage"])
            if owner["kind"] == "exec":
                exec_stage_ids.add(s["stage"])
    for st in records:
        if st["type"] != "stage" or st["stage"] not in stage_ids:
            continue
        m["exec.stages"] += 1
        for k, f in STAGE_SUMS.items():
            m[k] += st[f]
        if st["stage"] in exec_stage_ids:
            exec_run_ms += st["run_ms"]
    m["exec.busy_frac"] = exec_run_ms / (action_ms * cores) if action_ms else 0.0
    phases = {"analysis": "catalyst.analysis_ms",
              "optimization": "catalyst.optimization_ms",
              "planning": "catalyst.planning_ms"}
    for r in records:
        if r["type"] == "qe":
            for ph, (s, e) in r["phases"].items():
                if ph in phases and _within(s, queries):
                    m[phases[ph]] += e - s
        elif r["type"] == "stream" and _within(r["start"], queries):
            m["streaming.batches"] += 1
            for k, d in STREAM_DURATIONS.items():
                m[k] += r["durations"].get(d, 0)
            m["streaming.state_commit_ms"] += r["state_commit_ms"]
            m["streaming.state_rows"] += r["state_rows"]
            m["streaming.state_mem_bytes"] += r["state_mem_bytes"]
    rec = next(r for r in records if r["type"] == "pass" and r["pass"] == pass_span["name"])
    for k, f in PASS_STATS.items():
        m[k] = rec[f]
    return m


def per_layer(records, cores):
    """(metrics, trace) for a traced run: the per-layer metrics and the
    span tree the trace summary reads."""
    spans = benchlib.build_tree(records)
    kids = benchlib.children_index(spans)
    index = {s["id"]: s for s in spans}
    timed = [s for s in spans if s["kind"] == "pass" and s["name"].startswith("p")]
    per_pass = [pass_metrics(p, spans, index, kids, records, cores) for p in timed]
    metrics = {k: benchlib.median([m[k] for m in per_pass]) for k in UNITS}
    for r in records:
        if r["type"] == "kernel":
            metrics[r["metric"]] = r["ns_per_row"]
    metrics["dimcache.computes_timed"] = next(
        r["computes_timed"] for r in records if r["type"] == "dimcache")
    walls = {True: [], False: []}
    for r in records:
        if r["type"] == "pass" and r["pass"].startswith("p"):
            walls[r["traced"]].append(r["wall_s"])
    metrics["trace.overhead_s"] = benchlib.median(walls[True]) - benchlib.median(walls[False])
    trace = {"traced_pass_s": walls[True], "untraced_pass_s": walls[False],
             "layer_self_ms": benchlib.layer_self_times(
                 [s for s in spans if s["kind"] not in ("run", "pass")])}
    return metrics, {"summary": trace, "spans": spans}
