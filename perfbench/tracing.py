"""Spans and per-layer metrics of a traced run.

The harness records raw events from outside the program while the traced
repeat runs: its own op intervals (one query or one micro-batch each, with
the query function call and the final action timed apart), Spark job /
stage records from a SparkListener, and Catalyst phase intervals from a
QueryExecutionListener. This module turns them into one span per call into
a layer, written to .bench_work/trace/<workload>-seed<N>.spans.jsonl, a
summary next to it (self time per layer, the job call-site breakdown per
source file), and the per-layer metrics, averaged per op.

Span tree: op (layer "workload") -> queries.build / queries.action (layer
"queries", query workloads only) -> Catalyst phases (layer "catalyst") and
Spark jobs (layer "spark") -> the job's executed stages (layer "stage").
"""
import json
import os
import statistics

MB = 1024.0 * 1024.0


def union_ms(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            total += 0 if cur_b is None else cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    return total + (0 if cur_b is None else cur_b - cur_a)


def site_file(site):
    """'localCheckpoint at Materialize.scala:43' -> 'Materialize.scala'."""
    return site.rsplit(" at ", 1)[-1].split(":")[0] if " at " in site else (site or "?")


class Spans:
    def __init__(self):
        self.rows = []

    def add(self, layer, name, start, end, parent, **attrs):
        sid = len(self.rows)
        self.rows.append(dict(id=sid, parent=parent, layer=layer, name=name,
                              start_ms=start, end_ms=end, **attrs))
        return sid

    def self_times(self):
        kids = {}
        for s in self.rows:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
        for s in self.rows:
            s["self_ms"] = (s["end_ms"] - s["start_ms"]) - union_ms(
                kids.get(s["id"], []), s["start_ms"], s["end_ms"])


def _ops_jobs(workload, ops, jobs):
    """Assign every traced job to its op: by the harness's op property, or
    (jobs from pool threads, which do not carry it) by time, flagged as
    unattributed. Returns {op index: [(job, phase, attributed)]}."""
    tags = {op.get("op"): i for i, op in enumerate(ops)}
    out = {i: [] for i in range(len(ops))}
    for j in jobs:
        if j["phase"] in ("drain", "check", "drop"):
            continue
        if workload == "ingest":
            if j["batch"] != "":
                b = int(j["batch"])
                if b < len(ops):
                    out[b].append((j, "batch", True))
            continue
        if j["op"] in tags and j["phase"] in ("build", "action"):
            out[tags[j["op"]]].append((j, j["phase"], True))
            continue
        for i, op in enumerate(ops):
            if op["good"] and op["t0"] <= j["start"] <= op["t2"]:
                phase = "build" if j["start"] < op["t1"] else "action"
                out[i].append((j, phase, False))
                break
    return out


def per_layer(workload, seed, out, cores):
    ev, ops = out["events"], out["traced"]["ops"]
    stages = {s["id"]: s for s in ev["stages"]}
    by_op = _ops_jobs(workload, ops, ev["jobs"])
    spans = Spans()
    rows, sites = [], {}
    for i, op in enumerate(ops):
        if not op["good"]:
            continue
        t0, t2 = op["t0"], op["t2"]
        name = op.get("name") or f"batch {op['batch']}"
        root = spans.add("workload", name, t0, t2, None, op=i)
        parents = {}
        if workload == "ingest":
            parents["batch"] = root
        else:
            parents["build"] = spans.add("queries", "queries.build", t0, op["t1"], root, op=i)
            parents["action"] = spans.add("queries", "queries.action", op["t1"], t2, root, op=i)
        r = dict(wall=t2 - t0, build_ms=op.get("build_ms", 0.0), action_ms=op.get("action_ms", 0.0),
                 build_jobs=0, action_jobs=0, barrier=0, sizeguard=0, unattributed=0,
                 analysis=0, optimization=0, planning=0)
        for c in ev["catalyst"]:
            if t0 <= c["start"] <= t2:
                r[c["phase"]] = r.get(c["phase"], 0) + (c["end"] - c["start"])
                parent = parents["batch"] if workload == "ingest" else (
                    parents["build"] if c["start"] < op["t1"] else parents["action"])
                spans.add("catalyst", c["phase"], c["start"], c["end"], parent, op=i)
        intervals, seen = [], set()
        agg = dict(stages=0, tasks=0, failed=0, wait=0, cpu_ns=0, gc=0, sw=0, sr=0,
                   spill=0, inb=0, inr=0, outb=0)
        for j, phase, attributed in by_op[i]:
            end = j["end"] or t2
            intervals.append((j["start"], end))
            f = site_file(j["site"])
            sites[f] = sites.get(f, 0) + 1
            r["barrier"] += f == "Materialize.scala"
            r["sizeguard"] += f == "SizeGuard.scala"
            r["unattributed"] += not attributed
            if phase in ("build", "action"):
                r[phase + "_jobs"] += 1
            jid = spans.add("spark", j["site"], j["start"], end, parents[phase], op=i,
                            job=j["id"], attributed=attributed, ok=j["ok"])
            for sid in j["stages"]:
                s = stages.get(sid)
                if s is None or sid in seen or s["tasks"] == 0:
                    continue
                seen.add(sid)
                spans.add("stage", f"stage {sid}", s["submitted"], s["completed"] or end, jid,
                          op=i, tasks=s["tasks"], cpu_ms=s["cpu_ns"] / 1e6)
                agg["stages"] += 1
                agg["tasks"] += s["tasks"]
                agg["failed"] += s["failed_tasks"]
                agg["wait"] += s["wait_ms"]
                agg["cpu_ns"] += s["cpu_ns"]
                agg["gc"] += s["gc_ms"]
                agg["sw"] += s["shuffle_write"]
                agg["sr"] += s["shuffle_read"]
                agg["spill"] += s["spill"]
                agg["inb"] += s["in_bytes"]
                agg["inr"] += s["in_rows"]
                agg["outb"] += s["out_bytes"]
        r["jobs"] = len(by_op[i])
        r["job_ms"] = union_ms(intervals, t0, t2)
        r["gap_ms"] = r["wall"] - r["job_ms"]
        r.update(agg)
        rows.append(r)
    spans.self_times()

    n = max(len(rows), 1)

    def mean(k, scale=1.0):
        return sum(r[k] for r in rows) / n / scale

    tasks = sum(r["tasks"] for r in rows)
    wall_ms = sum(r["wall"] for r in rows)
    self_by_layer = {}
    for s in spans.rows:
        self_by_layer[s["layer"]] = self_by_layer.get(s["layer"], 0) + s["self_ms"]
    query = workload != "ingest"
    m = {
        "queries.build_ms": (mean("build_ms") if query else 0.0, "ms"),
        "queries.build_jobs": (mean("build_jobs") if query else 0.0, "count"),
        "queries.action_ms": (mean("action_ms") if query else 0.0, "ms"),
        "queries.action_jobs": (mean("action_jobs") if query else 0.0, "count"),
        "queries.self_ms": (self_by_layer.get("queries", 0) / n, "ms"),
        "catalyst.analysis_ms": (mean("analysis"), "ms"),
        "catalyst.optimization_ms": (mean("optimization"), "ms"),
        "catalyst.planning_ms": (mean("planning"), "ms"),
        "spark.jobs": (mean("jobs"), "count"),
        "spark.stages": (mean("stages"), "count"),
        "spark.tasks": (mean("tasks"), "count"),
        "spark.job_ms": (mean("job_ms"), "ms"),
        "spark.gap_ms": (mean("gap_ms"), "ms"),
        "spark.task_wait_ms": (sum(r["wait"] for r in rows) / max(tasks, 1), "ms"),
        "spark.task_cpu_s": (mean("cpu_ns", 1e9), "s"),
        "spark.task_gc_ms": (mean("gc"), "ms"),
        "spark.cpu_util": (sum(r["cpu_ns"] for r in rows) / 1e6 / max(wall_ms * cores, 1), "ratio"),
        "spark.shuffle_write_mb": (mean("sw", MB), "MB"),
        "spark.shuffle_read_mb": (mean("sr", MB), "MB"),
        "spark.spill_mb": (mean("spill", MB), "MB"),
        "spark.failed_tasks": (mean("failed"), "count"),
        "spark.self_ms": (self_by_layer.get("spark", 0) / n, "ms"),
        "operators.barrier_jobs": (mean("barrier"), "count"),
        "operators.sizeguard_jobs": (mean("sizeguard"), "count"),
        "operators.unattributed_jobs": (mean("unattributed"), "count"),
        "sources.input_mb": (mean("inb", MB), "MB"),
        "sources.input_rows": (mean("inr"), "count"),
        "sources.output_mb": (mean("outb", MB), "MB"),
    }
    m.update(_streaming(workload, out, rows))
    m["trace.overhead_frac"] = (_overhead(out), "ratio")
    m["trace.workload_self_ms"] = (self_by_layer.get("workload", 0) / n, "ms")

    trace_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                             ".bench_work", "trace")
    os.makedirs(trace_dir, exist_ok=True)
    base = os.path.join(trace_dir, f"{workload}-seed{seed}")
    with open(base + ".spans.jsonl", "w") as fh:
        for s in spans.rows:
            fh.write(json.dumps(s) + "\n")
    summary = {"ops": len(rows), "self_ms_by_layer": self_by_layer,
               "jobs_by_callsite_file": dict(sorted(sites.items(), key=lambda kv: -kv[1])),
               "job_plus_gap_equals_wall": all(r["job_ms"] + r["gap_ms"] == r["wall"] for r in rows),
               "per_op": rows}
    with open(base + ".summary.json", "w") as fh:
        json.dump(summary, fh, indent=1)
    return {k: (v, u, len(rows)) for k, (v, u) in m.items()}, base + ".spans.jsonl"


def _streaming(workload, out, rows):
    names = ["streaming.jobs_per_batch", "streaming.index_bytes_per_doc", "streaming.write_amp",
             "streaming.compact_batch_ms", "streaming.plain_batch_ms",
             "streaming.late_early_ratio", "streaming.kept_frac"]
    units = ["count", "B", "ratio", "ms", "ms", "ratio", "ratio"]
    if workload != "ingest":
        return {k: (0.0, u) for k, u in zip(names, units)}
    ops = [op for op in out["traced"]["ops"] if op["good"]]
    lat = [op["lat_ms"] for op in ops]
    kept = sum(op["kept"] for op in ops)
    docs = sum(op["docs"] for op in ops)
    text = sum(op["text_bytes"] for op in ops)
    compact = [op["lat_ms"] for op in ops if op["compacted"]]
    plain = [op["lat_ms"] for op in ops if not op["compacted"]]
    k = max(len(lat) // 4, 1)
    early = lat[len(lat) // 10: len(lat) // 10 + k]
    vals = [
        sum(r["jobs"] for r in rows) / max(len(rows), 1),
        ops[-1]["index_bytes"] / max(kept, 1) if ops else 0.0,
        sum(r["outb"] for r in rows) / max(text, 1),
        statistics.median(compact) if compact else 0.0,
        statistics.median(plain) if plain else 0.0,
        statistics.median(lat[-k:]) / statistics.median(early) if early else 0.0,
        kept / max(docs, 1),
    ]
    return {k2: (v, u) for k2, v, u in zip(names, vals, units)}


def _overhead(out):
    """Traced pass wall over the median untraced pass wall, minus one (same
    ops, same JVM)."""
    walls = {}
    for op in out["measured"]["ops"]:
        walls[op["pass"]] = walls.get(op["pass"], 0.0) + op["lat_ms"]
    traced = sum(op["lat_ms"] for op in out["traced"]["ops"])
    untraced = statistics.median(walls.values()) if walls else 0.0
    return traced / untraced - 1 if untraced else 0.0
