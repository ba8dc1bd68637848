"""Per-layer metrics and spans of a traced run.

The harness's Tracer records raw facts (op and phase intervals, Spark
jobs tagged with their op, per-op task counters, query-planning phase
intervals, rule and codegen counters). This module builds the span tree
workload > op > {build, execute} > {analysis, optimization, planning,
job}, computes self times, writes the spans as JSON lines and derives
the per-layer metrics of BENCHMARK.json. Every metric is per timed pass.
"""
import json
import os

RULES = ["ResolveDataSource", "ResolveRelations", "InvokeProcedures"]
PHASE_NAMES = {"analysis": "analyze", "optimization": "optimize",
               "planning": "physical"}


def _union(intervals):
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def _spans(workload, out):
    """Span tree as a list of dicts with id, name, start_ms, end_ms,
    parent, op and self_ms."""
    ops = out["ops"]
    spans = [{"id": 0, "name": f"workload:{workload}", "parent": None,
              "op": None, "start_ms": min(o["start_ms"] for o in ops),
              "end_ms": max(o["end_ms"] for o in ops)}]

    def add(name, start, end, parent, op):
        spans.append({"id": len(spans), "name": name, "start_ms": start,
                      "end_ms": end, "parent": parent, "op": op})
        return len(spans) - 1

    windows = []
    for o in ops:
        oid = add(f"op:{o['kind']}:{o['name']}", o["start_ms"], o["end_ms"],
                  0, o["id"])
        kids = [(p["start_ms"], p["end_ms"],
                 add(p["name"], p["start_ms"], p["end_ms"], oid, o["id"]))
                for p in o["phases"]]
        windows.append((o["start_ms"], o["end_ms"], oid, o["id"], kids))

    def place(t):
        for s, e, oid, op, kids in windows:
            if s <= t <= e:
                for ks, ke, kid in kids:
                    if ks <= t <= ke:
                        return kid, op
                return oid, op
        return None, None

    tr = out["trace"]
    for p in tr["qe_phases"]:
        parent, op = place(p["start_ms"])
        if parent is not None:
            add(PHASE_NAMES.get(p["name"], p["name"]), p["start_ms"],
                p["end_ms"], parent, op)
    for j in tr["jobs"]:
        parent, op = place(j["start_ms"])
        if parent is not None:
            add(f"job:{j['job']}", j["start_ms"], j["end_ms"], parent, op)
    child = {}
    for s in spans[1:]:
        child.setdefault(s["parent"], []).append(s)
    for s in spans:
        kids = child.get(s["id"], [])
        s["self_ms"] = max(0.0, (s["end_ms"] - s["start_ms"]) - _union(
            [(k["start_ms"], k["end_ms"]) for k in kids]))
    return spans


def per_layer(workload, out, cores, passes, spans_path, figures):
    """Per-layer metrics, name -> (value, unit); `figures` are the
    table figures of check.table_figures."""
    spans = _spans(workload, out)
    os.makedirs(os.path.dirname(spans_path), exist_ok=True)
    with open(spans_path, "w") as f:
        for s in spans:
            f.write(json.dumps(s) + "\n")
    ops, tr = out["ops"], out["trace"]
    acc = tr["ops"]
    op_ids = {o["id"] for o in ops}
    by_id = {o["id"]: o for o in ops}

    def ctr(key, ids=op_ids):
        return sum(acc.get(i, {}).get(key, 0) for i in ids)

    def per(v):
        return v / passes

    jobs = [s for s in spans if s["name"].startswith("job:")]
    build = [s for s in spans if s["name"] == "build"
             and by_id[s["op"]]["kind"] == "query"]
    build_ids = {s["id"] for s in build}
    wall_s = sum(o["lat_s"] for o in ops)
    job_wall_s = _union([(j["start_ms"], j["end_ms"]) for j in jobs]) / 1e3
    task_s = ctr("task_ms") / 1e3
    m = {
        "entry.build_s": (per(sum(s["end_ms"] - s["start_ms"]
                                  for s in build) / 1e3), "s"),
        "entry.build_jobs": (per(sum(1 for j in jobs
                                     if j["parent"] in build_ids)), "count"),
    }
    for short in ("analyze", "optimize", "physical"):
        m[f"catalyst.{short}_s"] = (per(sum(
            s["end_ms"] - s["start_ms"] for s in spans
            if s["name"] == short) / 1e3), "s")
    runs = tr["rule_runs"]
    m["catalyst.rule_s"] = (per(tr["rule_ns"] / 1e9), "s")
    m["catalyst.rule_runs"] = (per(runs), "count")
    m["catalyst.rule_effective_ratio"] = (
        tr["rule_effective_runs"] / runs if runs else 0.0, "ratio")
    for r in RULES:
        m[f"catalyst.rule.{r}_s"] = (per(sum(
            v for k, v in tr["rules_ns"].items()
            if k.split(".")[-1].split("$")[-1] == r) / 1e9), "s")
    m["codegen.compile_s"] = (per(tr["codegen_compile_ns"] / 1e9), "s")
    m["codegen.classes"] = (per(tr["codegen_classes"]), "count")
    m["exec.jobs"] = (per(len(jobs)), "count")
    m["exec.job_wall_s"] = (per(job_wall_s), "s")
    m["exec.ms_per_job"] = (1e3 * job_wall_s / len(jobs) if jobs else 0.0,
                            "ms")
    m["exec.task_s"] = (per(task_s), "s")
    m["exec.task_cpu_s"] = (per(ctr("task_cpu_ns") / 1e9), "s")
    m["exec.core_busy_ratio"] = (task_s / (wall_s * cores) if wall_s else 0.0,
                                 "ratio")
    m["exec.shuffle_write_mb"] = (per(ctr("shuffle_write_bytes") / 2**20),
                                  "MB")
    m["exec.shuffle_read_mb"] = (per(ctr("shuffle_read_bytes") / 2**20), "MB")
    m["exec.spill_mb"] = (per(ctr("spill_bytes") / 2**20), "MB")
    m["exec.failed_tasks"] = (per(ctr("failed_tasks")), "count")
    m["exec.persisted_rdds_end"] = (max(o.get("persisted_after", 0)
                                        for o in ops), "count")
    m["driver.gap_s"] = (per(wall_s - job_wall_s), "s")
    m["jvm.gc_s"] = (per(sum(o["gc_ms"] for o in ops) / 1e3), "s")

    cat = workload == "catalog_sql"
    for k in ("insert", "select", "call"):
        ids = {o["id"] for o in ops if o["kind"] == k} if cat else set()
        m[f"catalog.{k}_s"] = (per(sum(by_id[i]["lat_s"] for i in ids)), "s")
    m["catalog.resolve_s"] = (
        m["catalyst.rule.ResolveDataSource_s"][0] +
        m["catalyst.rule.ResolveRelations_s"][0] if cat else 0.0, "s")
    m["catalog.statement_jobs"] = (len(jobs) / len(ops) if cat else 0.0,
                                   "count")
    m["catalog.stored_bytes_per_row"] = (
        figures.get("stored_bytes_per_row", 0.0) if cat else 0.0, "B")
    m["trace.wall_s"] = (per(wall_s), "s")
    m["trace.spans"] = (per(len(spans)), "count")
    return m
