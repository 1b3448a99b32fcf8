#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload detect_bulk --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of the engine. The first run builds the
harness together with the engine sources (sbt, offline); inputs are
generated from the seed and cached per (workload, seed). The last line
of standard output is one JSON object: `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`). Everything the run writes stays under
`.bench_build/perfbench/` in the checkout. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
XMX = "3g"
RUN_TIMEOUT_S = 170

DETECTORS = ["d1_storm", "d3_spike_valley", "d4_data_gap", "d5_flat_line",
             "d6_extreme_value", "d7_extreme_change", "u1_infer_step"]

# Gate posture of corpus_bulk: the pin gate compares the documents
# scan's estimated bytes with this threshold (32 MB by default); 64 KiB
# puts the generated corpus on its above-gate side, so kc1_kcore pins
# its edge list by the join key instead of checkpointing it.
ABOVE_GATE = ["spark.graft.pin.minBytes=65536"]

WORKLOADS = {
    # the paper's workload: many series, every detector
    "detect_bulk": {
        "tables": {"events": (600, 100)},
        "keys": DETECTORS,
    },
    # pair finding, a graph loop and a Lloyd loop, above the pin gate
    "corpus_bulk": {
        "tables": {"documents": (1000,), "embeddings": (1000,)},
        "keys": ["x2_minhash_lsh", "kc1_kcore", "s3_kmeans_ivf"],
        "confs": ABOVE_GATE,
    },
}
ALL_KEYS = [k for w in WORKLOADS.values() for k in w["keys"]]


def table_of(key):
    """The one input table a call reads."""
    if key in DETECTORS:
        return "events"
    return "embeddings" if key == "s3_kmeans_ivf" else "documents"


ADD_OPENS = [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---- build -------------------------------------------------------------

def source_hash():
    h = hashlib.sha256()
    for base in ["src/main", "perfbench/src", "perfbench/build.sbt",
                 "perfbench/project/build.properties"]:
        path = os.path.join(ROOT, base)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build(src_key):
    """Compile harness + engine once per source state; returns the runtime
    classpath."""
    cp_file = os.path.join(WORK, f"classpath-{src_key}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    log("building harness and engine (sbt, offline)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed", 1)
    cp = [ln for ln in r.stdout.splitlines()
          if os.pathsep in ln and "perfbench" in ln and not ln.startswith("[")]
    if not cp:
        fail("build printed no classpath", 1)
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    log(f"built in {time.time() - t0:.1f} s")
    return cp[-1].strip()


# ---- inputs ------------------------------------------------------------

def inputs(workload, seed):
    """Generate (or reuse) the workload's input tables; returns
    (dir, rows per table, generation seconds, 0 when reused)."""
    d = os.path.join(WORK, "inputs", f"{workload}-{seed}")
    marker = os.path.join(d, "rows.json")
    if os.path.exists(marker):
        with open(marker) as f:
            return d, json.load(f), 0.0
    import gen
    t0 = time.time()
    shutil.rmtree(d, ignore_errors=True)
    rows = gen.generate(d, seed, WORKLOADS[workload]["tables"])
    gen_s = time.time() - t0
    with open(marker, "w") as f:
        json.dump(rows, f)
    log(f"generated {workload} inputs (seed {seed}) in {gen_s:.2f} s: {rows}")
    return d, rows, gen_s


def input_identity(input_dir, rows):
    """Row counts and the sha256 of each generated parquet file (gen.py
    writes the same bytes for the same seed)."""
    digests = {}
    for name in sorted(os.listdir(input_dir)):
        if name.endswith(".parquet"):
            with open(os.path.join(input_dir, name), "rb") as f:
                digests[name] = hashlib.sha256(f.read()).hexdigest()
    return {"rows": rows, "sha256": digests}


# ---- one run -----------------------------------------------------------

def run_jvm(cp, run_dir, input_dir, workload, keys, seconds, trace, deadline):
    spec = WORKLOADS[workload]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # a fixed heap: with -Xms below -Xmx, G1 shrinks the heap after the
    # full collection before each pass and grows it again during the pass
    cmd = [java, f"-Xms{XMX}", f"-Xmx{XMX}", *ADD_OPENS, "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Harness",
           "--inputs", input_dir, "--out", run_dir, "--keys", ",".join(keys),
           "--tables", ",".join(sorted(spec["tables"])), "--seconds", str(seconds),
           "--trace", str(trace)]
    for c in spec.get("confs", []):
        cmd += ["--conf", c]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        try:
            r = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                               timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("harness timed out", 1)
    if r.returncode != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {r.returncode}", 1)
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def check_outputs(res, run_dir, input_dir, tables):
    """Oracle-check the outputs the harness wrote after set-up; returns {key: expected
    digest or None} and {key: failure reason}. Oracle results depend only
    on the inputs and the SQL, so they are cached next to the inputs."""
    import oracle
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    con = oracle.Oracle(input_dir, tables)
    expected, reasons = {}, {}
    for key, v in res["verified"].items():
        expected[key] = None
        if "error" in v:
            reasons[key] = f"threw: {v['error']}"
        elif not sqls.get(key):
            reasons[key] = "no oracle SQL"
        else:
            why = oracle.compare(con, sqls[key], os.path.join(run_dir, "verify", key))
            if why:
                reasons[key] = f"oracle mismatch: {why}"
            else:
                expected[key] = (v["rows"], v["digest"])
    return expected, reasons


def cpu_times():
    """Machine-wide CPU seconds by state (user, system, idle, steal) from
    /proc/stat, or {} where there is none: steal shows a shared host
    taking the CPUs away during a run."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return {}
    hz = os.sysconf("SC_CLK_TCK")
    return {"user": (v[0] + v[1]) / hz, "system": (v[2] + v[5] + v[6]) / hz,
            "idle": (v[3] + v[4]) / hz, "steal": v[7] / hz}


def median(xs):
    """Median, or None (JSON null) when nothing was measured."""
    return statistics.median(xs) if xs else None


def end_to_end(res, calls, rows):
    """End-to-end metrics over the untraced measured passes."""
    ok = [c for c in calls if c["ok"]]
    by_pass = {}
    for c in calls:
        by_pass.setdefault(c["pass"], []).append(c)
    clean = [cs for cs in by_pass.values() if all(c["ok"] for c in cs)]
    # rows the pass's calls read over the pass's summed call time
    rates = [sum(rows[table_of(c["key"])] for c in cs) / sum(c["s"] for c in cs)
             for cs in clean]
    return {
        "setup_s": (median(res["setup_s"]), "s"),
        "pass_s": (median([sum(c["s"] for c in cs) for cs in clean]), "s"),
        "call_p50_s": (median([c["s"] for c in ok]), "s"),
        "input_rows_per_s": (median(rates), "rows/s"),
        "peak_live_heap_mb": (res["peak_live_heap_mb"], "MiB"),
    }, {
        "failed_ops": (len(calls) - len(ok)) / len(calls) if calls else None,
        "failed_ops_base": len(calls),
        "call_samples": len(ok),
        "clean_passes": len(clean),
    }


def per_layer(res, traced):
    """Per-layer metrics: per traced pass, summed over its calls, then the
    median over traced passes."""
    by_pass = {}
    for c in traced:
        by_pass.setdefault(c["pass"], []).append(c)
    scan = {p["pass"]: p["scan_s"] for p in res["passes"] if p["traced"]}

    def per_pass(f, agg=sum):
        return median([agg([f(c) for c in cs]) for cs in by_pass.values()])

    def node(name):
        return lambda c: c.get("plan_nodes", {}).get(name, 0)

    def module(name):
        return lambda c: c.get("module_jobs", {}).get(name, 0)

    kern = res.get("kernels", {})
    m = {
        "sources.scan_s": (median(list(scan.values())), "s"),
        "queries.build_s": (per_pass(lambda c: c["build_s"]), "s"),
        "queries.build_jobs": (per_pass(lambda c: c["build_jobs"]), "count"),
        "plans.plan_s": (per_pass(lambda c: c["plan_s"]), "s"),
        "plans.exchanges": (per_pass(node("exchanges")), "count"),
        "plans.sorts": (per_pass(node("sorts")), "count"),
        "plans.windows": (per_pass(node("windows")), "count"),
        "plans.scans": (per_pass(node("scans")), "count"),
        "exec.s": (per_pass(lambda c: c["exec_s"]), "s"),
        "exec.jobs": (per_pass(lambda c: c["exec_jobs"]), "count"),
        "exec.stages": (per_pass(lambda c: c["exec_stages"]), "count"),
        "exec.tasks": (per_pass(lambda c: c["exec_tasks"]), "count"),
        "exec.task_cpu_s": (per_pass(lambda c: c["exec_task_cpu_s"]), "s"),
        "exec.gc_s": (per_pass(lambda c: c["exec_gc_s"]), "s"),
        "exec.shuffle_write_mb": (per_pass(lambda c: c["exec_shuffle_write_mb"]), "MiB"),
        "exec.spill_mb": (per_pass(lambda c: c["exec_spill_mb"]), "MiB"),
        "sched.driver_gap_s": (per_pass(lambda c: c["driver_gap_s"]), "s"),
        "sched.task_overhead_s": (per_pass(lambda c: c["task_overhead_s"]), "s"),
        "sched.max_task_ratio": (per_pass(lambda c: c["max_task_ratio"], max), "ratio"),
        "materialize.blocks": (per_pass(lambda c: c["materialize_blocks"]), "count"),
        "materialize.mb": (per_pass(lambda c: c["materialize_mb"]), "MiB"),
        "materialize.jobs": (per_pass(module("materialize")), "count"),
        "dedup.jobs": (per_pass(module("dedup")), "count"),
        "similarity.jobs": (per_pass(module("similarity")), "count"),
        "operators.jobs": (per_pass(module("operators")), "count"),
        "functions.graft_dot_rows_per_s":
            (kern.get("graft_dot", {}).get("rows_per_s", 0.0), "rows/s"),
        "functions.graft_minhash_rows_per_s":
            (kern.get("graft_minhash", {}).get("rows_per_s", 0.0), "rows/s"),
        "operators.run_assembly_rows_per_s":
            (kern.get("run_assembly", {}).get("rows_per_s", 0.0), "rows/s"),
    }
    for layer in ["run", "pass", "scan", "call", "build", "plan", "exec", "job", "stage"]:
        t = res["layer_times"].get(layer, {"self_s": 0.0})
        m[f"self.{layer}_s"] = (t["self_s"], "s")
    for key in ALL_KEYS:
        mine = [c for c in traced if c["key"] == key]
        m[f"call.{key}.s"] = (median([c["s"] for c in mine]) if mine else 0.0, "s")
        m[f"call.{key}.jobs"] = (median([c["jobs"] for c in mine]) if mine else 0, "count")
    return m


def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def layer_table(m, overhead):
    lines = ["| metric | value | unit |", "|---|---|---|"]
    lines += [f"| {k} | {fmt(v)} | {u} |" for k, (v, u) in m.items()]
    lines.append(f"| tracing overhead (traced - untraced pass_s) | "
                 f"{fmt(overhead['overhead_s'])} | s |")
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    for need in ["build.sbt", "src/main/scala/graft/SparkEntry.scala"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a checkout of the engine")
    os.makedirs(WORK, exist_ok=True)
    src_key = source_hash()
    cp = build(src_key)
    deadline = time.time() + RUN_TIMEOUT_S

    spec = WORKLOADS[a.workload]
    input_dir, rows, gen_s = inputs(a.workload, a.seed)
    keys = spec["keys"]
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    load_before = os.getloadavg()[0]
    cpu_before = cpu_times()
    t0 = time.time()
    res = run_jvm(cp, run_dir, input_dir, a.workload, keys, a.seconds, a.trace, deadline)
    load_after = os.getloadavg()[0]
    cpu_during = {k: round(v - cpu_before.get(k, 0.0), 2) for k, v in cpu_times().items()}
    t1 = time.time()
    expected, reasons = check_outputs(res, run_dir, input_dir, sorted(spec["tables"]))
    log(f"harness {t1 - t0:.1f} s, oracle check {time.time() - t1:.1f} s")

    for c in res["calls"]:
        exp = expected.get(c["key"])
        if c["ok"] and (exp is None or (c["rows"], c["digest"]) != tuple(exp)):
            c["ok"] = False
            c["error"] = reasons.get(c["key"], "digest differs from the oracle-checked output")
    untraced = [c for c in res["calls"] if not c["traced"]]
    traced = [c for c in res["calls"] if c["traced"]]
    e2e, extra = end_to_end(res, untraced, rows)
    failures = sorted({(c["key"], c["error"]) for c in res["calls"] if not c["ok"]})
    for key, why in failures:
        log(f"FAILED {key}: {why}")
    log(f"failed_ops = {fmt(extra['failed_ops'])} (base {extra['failed_ops_base']} calls)")

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "keys": keys, "source_hash": src_key, "nproc": res["nproc"], "xmx": XMX,
        "xmx_mb": res["xmx_mb"], "jvm": res["jvm"], "spark": res["spark"],
        "confs": res["confs"], "load_avg_1m_before": load_before,
        "load_avg_1m_after": load_after, "machine_cpu_s_during_harness": cpu_during,
        "generation_s": gen_s,
        "inputs": input_identity(input_dir, rows), "setup_s_samples": res["setup_s"],
        "oracle_failures": reasons, "end_to_end": e2e, **extra,
        "passes": res["passes"], "calls": res["calls"],
    }
    if a.trace:
        metrics = per_layer(res, traced)
        t_pass = median([p["seconds"] for p in res["passes"] if p["traced"]])
        u_pass = median([p["seconds"] for p in res["passes"] if not p["traced"]])
        overhead = {"traced_pass_s": t_pass, "untraced_pass_s": u_pass,
                    "overhead_s": t_pass - u_pass if t_pass and u_pass else None}
        tdir = os.path.join(WORK, "trace", f"{a.workload}-{a.seed}")
        os.makedirs(tdir, exist_ok=True)
        shutil.copy(os.path.join(run_dir, "spans.json"), tdir)
        table = layer_table(metrics, overhead)
        with open(os.path.join(tdir, "layers.md"), "w") as f:
            f.write(table + "\n")
        with open(os.path.join(tdir, "layers.json"), "w") as f:
            json.dump({"metrics": metrics, "layer_times": res["layer_times"],
                       "tracing_overhead": overhead, "kernels": res["kernels"]}, f, indent=1)
        print(table)
        print(f"tracing overhead: traced pass_s {fmt(t_pass)} s - untraced pass_s "
              f"{fmt(u_pass)} s = {fmt(overhead['overhead_s'])} s; spans and table in {tdir}")
        record["per_layer"] = metrics
        record["tracing_overhead"] = overhead
    else:
        metrics = e2e
        for k, (v, u) in e2e.items():
            print(f"{k} = {fmt(v)} {u}")
        print(f"failed_ops = {fmt(extra['failed_ops'])} ratio "
              f"(base {extra['failed_ops_base']} calls)")

    rec_dir = os.path.join(WORK, "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{a.workload}-{a.seed}-{a.trace}-"
                                    f"{int(time.time())}.json"), "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(os.path.join(run_dir, "spark-local"), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "verify"), ignore_errors=True)

    measured = untraced
    print(json.dumps({
        "correct": not reasons and all(c["ok"] for c in res["calls"]),
        "attempted": len(measured),
        "failed": sum(1 for c in measured if not c["ok"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
