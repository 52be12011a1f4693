#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload floor|ingest --seed N \\
        --seconds S --trace 0|1

Run from the checkout root. The first run in a checkout builds the program
and the harness (build.py) and computes the oracle reference answers
(oracle.py) under .bench_build/ and .bench_work/; later runs reuse them.
Each run then launches one plain JVM over the compiled classes: set-up (JVM
start, session, warmup pass), the measured closed loop with tracing off,
and with --trace 1 a traced repeat. Every result is checked. The last
stdout line is one JSON object {"correct", "attempted", "failed",
"metrics"}: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1. The lines above it give each metric with its unit and
sample count, the run's host facts and any failure. README.md describes
the workloads, the metrics and the trace file.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True   # keep the benchmark's own directory unchanged by runs

JVM_HEAP = ["-Xms2g", "-Xmx2g"]   # fixed, so G1's heap resizing does not vary between runs
# C1 only: Spark's planning and scheduling code keeps getting faster under C2 for minutes of
# repeated queries, longer than a run, so a C2 run measures how far the JIT
# happened to get (pass walls fell 10.4 -> 6.6 s over 6 passes and differed
# by 25% between runs); C1 settles within the warmup pass.
JIT = ["-XX:TieredStopAtLevel=1"]
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

with open(os.path.join(HERE, "workloads.json")) as _fh:
    WORKLOADS = json.load(_fh)
QUERY_WORKLOADS = [w for w, spec in WORKLOADS.items() if "queries" in spec]


# ---------------------------------------------------------------- preparation

def data_dir(workload):
    return os.path.join(HERE, WORKLOADS[workload]["data"])


def java_cmd(classpath):
    tmp = os.path.join(WORK, "run", "tmp")
    return (["java", "-cp", classpath, *JVM_HEAP, *JIT, "-Duser.timezone=UTC",
             f"-Djava.io.tmpdir={tmp}"]
            + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] + ["perfbench.Main"])


def catalog(classpath):
    """{query: oracle SQL or None} as the program registers them."""
    path = os.path.join(WORK, "catalog.json")
    os.makedirs(WORK, exist_ok=True)
    res = subprocess.run(java_cmd(classpath) + ["--catalog", path],
                         stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        sys.exit("run: the query catalog could not be read from the program")
    with open(path) as fh:
        return json.load(fh)


def references(classpath):
    """Oracle digests of every query workload's queries, cached under a
    fingerprint of the oracle SQL and the tables."""
    import build
    stamp_path = os.path.join(WORK, "refs.stamp")
    refs_path = os.path.join(WORK, "refs.json")
    h = hashlib.sha256(build.current_stamp().encode())
    for name in ("oracle.py", "workloads.json"):
        with open(os.path.join(HERE, name), "rb") as fh:
            h.update(fh.read())
    for w in QUERY_WORKLOADS:
        for f in sorted(os.listdir(data_dir(w))):
            with open(os.path.join(data_dir(w), f), "rb") as fh:
                h.update(f.encode() + hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    if os.path.exists(stamp_path) and open(stamp_path).read() == stamp:
        with open(refs_path) as fh:
            return json.load(fh)
    import oracle
    cat = catalog(classpath)
    refs = {}
    for w in QUERY_WORKLOADS:
        sqls = {n: cat.get(n) for n in WORKLOADS[w]["queries"]}
        missing = [n for n, sql in sqls.items() if not sql]
        refs[w] = oracle.references(data_dir(w), {n: s for n, s in sqls.items() if s})
        refs[w].update({n: "error: no oracle SQL registered" for n in missing})
    with open(refs_path, "w") as fh:
        json.dump(refs, fh)
    with open(stamp_path, "w") as fh:
        fh.write(stamp)
    return refs


# ------------------------------------------------------------------------ JVM

def run_jvm(classpath, plan):
    """Launch the harness JVM on `plan`; returns its output with the launch time."""
    run_dir = os.path.join(WORK, "run")
    plan_path = os.path.join(run_dir, "plan.json")
    out_path = os.path.join(run_dir, "out.json")
    log_path = os.path.join(run_dir, "jvm.log")
    with open(plan_path, "w") as fh:
        json.dump(dict(plan, out=out_path), fh)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(plan["work"], "spark-local"))
    launched = time.time() * 1000
    with open(log_path, "w") as log:
        proc = subprocess.Popen(java_cmd(classpath) + [plan_path], stdout=log,
                                stderr=subprocess.STDOUT, env=env, cwd=run_dir)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "a timeout"
    if code != 0 or not os.path.exists(out_path):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        sys.exit(f"run: the harness JVM exited with {code}")
    with open(out_path) as fh:
        out = json.load(fh)
    out["launched_ms"] = launched
    return out


def plan_for(args, cores):
    w = args.workload
    spec = WORKLOADS[w]
    work = os.path.join(WORK, "run", "spark")
    plan = {"workload": w, "seed": args.seed, "cores": cores, "trace": bool(args.trace),
            "work": work}
    plan["passes"] = max(1, round(args.seconds / spec["nominal_pass_s"]))
    if w in QUERY_WORKLOADS:
        ops = list(spec["queries"])
        random.Random(args.seed).shuffle(ops)
        plan.update(data=data_dir(w), ops=ops)
    else:
        plan["ingest"] = spec["config"]
    return plan


# -------------------------------------------------------------------- metrics

def tail(values):
    """(percentile, value): the highest percentile with at least 10 samples
    above it; the maximum when there are 10 samples or fewer."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return 100.0, xs[-1]
    return 100.0 * (n - 10) / n, xs[n - 11]


def check(phase, workload, refs):
    """Marks each op good or not; returns (attempted, failed, errors)."""
    errors = []
    for op in phase["ops"]:
        if workload in QUERY_WORKLOADS:
            ref = refs.get(op["name"])
            op["good"] = op["ok"] and op.get("digest") == ref
            if op["ok"] and not op["good"]:
                op["error"] = f"result digest {op.get('digest')} != oracle {ref}"
            op["lat_ms"] = op.get("build_ms", 0.0) + op.get("action_ms", 0.0)
            label = op["name"]
        else:
            op["good"] = op["ok"]
            if not op["ok"]:
                op["error"] = "kept ids differ from the generator's expected ids"
            label = f"batch {op['batch']}"
        if not op["good"]:
            errors.append(f"{label}: {op.get('error')}")
    failed = len(errors)
    if workload not in QUERY_WORKLOADS and not phase["kept_ok"]:
        errors.append("stream: kept-id digest differs from the generator's")
        failed += 1
    return len(phase["ops"]), failed, errors


def best_of_passes(phase, workload):
    """{op: its lowest latency over the passes}: every query (or batch
    index) runs once per pass, and host interference only ever adds time,
    so the best of the passes is the reading a re-run reproduces (the
    best-of-N rule of graft.Bench). Failed samples are left out."""
    best = {}
    for op in phase["ops"]:
        if op["good"]:
            key = op["name"] if workload in QUERY_WORKLOADS else op["batch"]
            best[key] = min(best.get(key, op["lat_ms"]), op["lat_ms"])
    return best


def end_to_end(workload, out):
    measured = out["measured"]
    best = best_of_passes(measured, workload)
    lats = list(best.values()) or [0.0]
    wall_s = sum(lats) / 1000
    if workload in QUERY_WORKLOADS:
        items = len(best)
    else:
        docs = {op["batch"]: op["docs"] for op in measured["ops"]}
        items = sum(docs[b] for b in best)
    raw = [op["lat_ms"] for op in measured["ops"] if op["good"]] or [0.0]
    pct, tail_ms = tail(raw)
    setup = (out["setup_done_ms"] - out["launched_ms"]) / 1000
    metrics = {
        "setup_s": (setup, "s", 1),
        "wall_s": (wall_s, "s", measured["passes"]),
        "p50_ms": (statistics.median(lats), "ms", len(best)),
        "items_per_s": (items / wall_s if wall_s else 0.0, "1/s", len(best)),
        "heap_retained_mb": (out["heap_retained_mb"], "MB", 1),
    }
    notes = {"tail": {"ms": round(tail_ms, 3), "percentile": round(pct, 2), "n": len(raw)},
             "setup_breakdown_s": {
                 "jvm_start": round((out["main_at_ms"] - out["launched_ms"]) / 1000, 3),
                 "session": round((out["session_at_ms"] - out["main_at_ms"]) / 1000, 3),
                 "warmup": round((out["setup_done_ms"] - out["session_at_ms"]) / 1000, 3)}}
    return metrics, notes


def steal_s():
    """CPU time the hypervisor gave to other guests (all CPUs), if known."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


# --------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("run: no program sources (src/main/scala) under the checkout root")

    import build
    import tracing
    load_start, steal_start = os.getloadavg()[0], steal_s()
    # every run starts from an empty working tree: Spark local dirs, the
    # program's memo tables (java.io.tmpdir), the sink's files
    shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)
    os.makedirs(os.path.join(WORK, "run", "tmp"))
    classpath = build.build()
    refs = references(classpath)
    cores = len(os.sched_getaffinity(0))
    w = args.workload
    out = run_jvm(classpath, plan_for(args, cores))

    attempted, failed, errors = check(out["measured"], w, refs.get(w, {}))
    metrics, notes = end_to_end(w, out)
    if args.trace:
        a, f, e = check(out["traced"], w, refs.get(w, {}))
        attempted, failed, errors = attempted + a, failed + f, errors + e
        metrics, trace_path = tracing.per_layer(w, args.seed, out, cores)
        notes["trace_file"] = os.path.relpath(trace_path, ROOT)

    info = {"workload": w, "seed": args.seed, "nproc": cores,
            "loadavg_1m_start": load_start, "loadavg_1m_end": os.getloadavg()[0],
            "cpu_steal_s": round(steal_s() - steal_start, 2),
            "passes": out["measured"]["passes"], "session_conf": out["conf"], **notes}
    print("info " + json.dumps(info, sort_keys=True))
    for e in errors[:20]:
        print("FAILED " + e)
    for name, (value, unit, n) in metrics.items():
        print(f"metric {name} = {value:.6g} {unit} (n={n})")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()}}))


if __name__ == "__main__":
    main()
