#!/usr/bin/env python3
"""The repo benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the program from source
(once per checkout, see build.py), generates the workload's inputs from
the seed, starts the stub AI server where the workload needs one, runs
the harness JVM, checks the program's outputs, prints every metric by
name and unit, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones, and
the spans go to a trace file. Everything it writes stays under the build
directory (.bench_build). Workloads and metrics: perfbench/README.md.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
from stub import StubServer  # noqa: E402

WORKLOADS = ("enrich_flat", "enrich_conversations", "query_suite")
LATENCY_MS = 3
MODEL = "bench-model"
JVM_TIMEOUT_S = 150
SUITE_DIR = os.path.join(HERE, "query_suite")
# the read-only sf0.01 tables (seed 42): query_suite has no alternate seed
SUITE_DATA = os.path.join(SUITE_DIR, "data")
SUITE_QUERIES = os.path.join(SUITE_DIR, "queries.txt")
SUITE_ORACLE = os.path.join(SUITE_DIR, "oracle_counts.json")

# Spark on JDK 17 outside spark-submit (the list in the program's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

END_TO_END = {  # name → unit
    "setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s",
    "rows_per_s": "rows/s", "storage_mb": "MB"}


def suite_queries():
    """query_suite/queries.txt as (queries object, query name) pairs, in name order."""
    with open(SUITE_QUERIES) as f:
        pairs = [tuple(l.split()) for l in f if l.strip() and not l.startswith("#")]
    return sorted(pairs, key=lambda p: p[1])


# the queries objects query_suite draws from, one family.* metric pair each
FAMILIES = sorted({obj for obj, _ in suite_queries()})
SPARK_COUNTERS = {"jobs": "count", "tasks": "count", "shuffle_write_bytes": "B",
                  "shuffle_read_bytes": "B", "spill_bytes": "B", "gc_s": "s",
                  "core_util": "ratio"}


def per_layer_units():
    units = {
        "failed_frac": "ratio", "trace.overhead_pct": "%",
        "sources.load_s": "s", "pipeline.build_s": "s", "pipeline.exec_s": "s",
        "sinks.export_s": "s", "sinks.files": "count", "sinks.bytes": "B",
        "enrich.calls": "count", "enrich.calls_per_row": "ratio", "enrich.retries": "count",
        "enrich.inflight_mean": "calls", "enrich.inflight_max": "calls",
        "enrich.call_p50_ms": "ms", "enrich.call_p99_ms": "ms",
        "enrich.request_bytes_per_call": "B", "enrich.engine_ms_per_call": "ms",
        "enrich.task_skew": "ratio", "queries.p50_s.warm": "s", "queries.tail_s.warm": "s",
        "queries.layer_gap_pct": "%", "setup.first_s": "s"}
    for side in ("cold", "warm"):
        for layer in ("construct_s", "plan_s", "exec_s"):
            units[f"queries.{layer}.{side}"] = "s"
        units[f"queries.construct_jobs.{side}"] = "count"
        for name, unit in SPARK_COUNTERS.items():
            units[f"spark.{name}.{side}"] = unit
        for fam in FAMILIES:
            units[f"family.{fam}.{side}_s"] = "s"
    return units


def nproc():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def median(xs):
    return statistics.median(xs) if xs else 0.0


# -- the harness JVM ---------------------------------------------------------
def run_jvm(cp, work, log_name, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx2g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-cp", cp, "perfbench.Main"] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()))
    log_path = os.path.join(work, log_name)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            code = proc.wait(JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise RuntimeError(f"harness JVM ({' '.join(args[:2])}) exited with {code}")


# -- enrichment workloads ----------------------------------------------------
def window(records, start_us, end_us):
    return [r for r in records if start_us <= r["arrival_us"] <= end_us]


def inflight_max(records):
    events = sorted([(r["arrival_us"], 1) for r in records] +
                    [(r["done_us"], -1) for r in records], key=lambda e: (e[0], e[1]))
    cur = best = 0
    for _, d in events:
        cur += d
        best = max(best, cur)
    return best


def enrich_cycle_layers(c, calls, counters, cores):
    """Per-layer metrics of one traced cycle."""
    exec_wall_us = max(1, c["pipeline.exec.end_us"] - c["pipeline.exec.start_us"])
    durations = sorted((r["done_us"] - r["arrival_us"]) / 1000.0 for r in calls)
    ok = sum(1 for r in calls if r["status"] == 200)
    stub_ms = sum(durations)
    m = {
        "sources.load_s": c["sources.load_s"], "pipeline.build_s": c["pipeline.build_s"],
        "pipeline.exec_s": c["pipeline.exec_s"], "sinks.export_s": c["sinks.export_s"],
        "enrich.calls": len(calls), "enrich.calls_per_row": len(calls) / max(1, ok),
        "enrich.retries": sum(1 for r in calls if r["status"] == 503),
        "enrich.inflight_mean": stub_ms * 1000.0 / exec_wall_us,
        "enrich.inflight_max": inflight_max(calls),
        "enrich.call_p50_ms": statistics.median(durations) if durations else 0.0,
        "enrich.call_p99_ms": (statistics.quantiles(durations, n=100)[98]
                               if len(durations) > 1 else sum(durations)),
        "enrich.request_bytes_per_call": sum(r["bytes"] for r in calls) / max(1, len(calls)),
    }
    key = f"cycle{c['cycle']}/"
    stages = counters.get(key + "pipeline.exec", {}).get("stage_task_ms", {})
    if stages:
        tasks = max(stages.values(), key=sum)  # the enrichment stage does the calls
        m["enrich.engine_ms_per_call"] = (sum(tasks) - stub_ms - c["backoff_ms"]) / max(1, len(calls))
        m["enrich.task_skew"] = max(tasks) / max(1e-9, statistics.median(tasks))
    m.update(spark_counters(counters, key, c["wall_s"], cores))
    return m


def spark_counters(counters, prefix, wall_s, cores):
    phases = [v for k, v in counters.items() if k.startswith(prefix)]
    total = {k: sum(p[k] for p in phases) for k in
             ("jobs", "tasks", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
              "gc_ms", "run_ms")}
    return {"jobs": total["jobs"], "tasks": total["tasks"],
            "shuffle_write_bytes": total["shuffle_write_bytes"],
            "shuffle_read_bytes": total["shuffle_read_bytes"],
            "spill_bytes": total["spill_bytes"], "gc_s": total["gc_ms"] / 1000.0,
            "core_util": total["run_ms"] / 1000.0 / max(1e-9, wall_s * cores)}


def dir_size(path):
    files = [p for p in glob.glob(os.path.join(path, "**"), recursive=True) if os.path.isfile(p)]
    return len(files), sum(os.path.getsize(p) for p in files)


def run_enrich(args, cp, work):
    flat = args.workload == "enrich_flat"
    csv_path = os.path.join(work, f"{args.workload}.csv")
    rows, props, fail_ids = gen.make(args.workload, args.seed, csv_path)
    print("input: " + ", ".join(f"{k}={v:.1f}" if isinstance(v, float) else f"{k}={v}"
                                for k, v in props.items()))
    out = os.path.join(work, "harness.json")
    stub = StubServer(LATENCY_MS, fail_ids).start()
    try:
        run_jvm(cp, work, "harness.log",
                ["--mode", args.workload, "--out", out, "--input", csv_path,
                 "--stub", stub.base, "--work", os.path.join(work, "export"),
                 "--seconds", str(args.seconds), "--trace", str(args.trace)])
    finally:
        stub.stop()
    with open(out) as f:
        res = json.load(f)
    log = stub.log()
    group_col = None if flat else "conversation"
    problems = []
    correct_rows = {}
    for c in res["cycles"]:
        bad, probs = check.check_enrich_export(rows, group_col, MODEL, c["export_dir"], flat)
        correct_rows[c["cycle"]] = len(rows) - max(bad, c["quarantined"])
        problems += [f"cycle {c['cycle']}: {p}" for p in probs]
    cycles = res["cycles"]
    attempted = len(rows) * len(cycles)
    failed = attempted - sum(correct_rows.values())
    warm = cycles[1:]
    e2e = {
        "cold_pass_s": cycles[0]["wall_s"],
        "warm_pass_s": median([c["wall_s"] for c in warm]),
        "rows_per_s": median([correct_rows[c["cycle"]] / c["wall_s"] for c in warm]),
        "storage_mb": res["storage_mb"],
    }
    layers = {}
    if args.trace:
        counters = res.get("counters", {})
        per_cycle = {}
        for c in cycles:
            if not c["traced"]:
                continue
            calls = window(log, c["sources.load.start_us"], c["sinks.export.end_us"])
            m = enrich_cycle_layers(c, calls, counters, res["cores"])
            m["sinks.files"], m["sinks.bytes"] = dir_size(c["export_dir"])
            per_cycle[c["cycle"]] = m
        warm_traced = [m for i, m in per_cycle.items() if i > 0]
        for k in warm_traced[0]:
            if k in SPARK_COUNTERS:
                layers[f"spark.{k}.cold"] = per_cycle[0][k]
                layers[f"spark.{k}.warm"] = median([m[k] for m in warm_traced])
            else:
                layers[k] = median([m[k] for m in warm_traced])
        layers["trace.overhead_pct"] = overhead_pct(
            [c["wall_s"] for c in cycles[2:] if c["traced"]],
            [c["wall_s"] for c in cycles[2:] if not c["traced"]])
        write_trace(args, work, res["spans"], [
            {"id": f"stub{i}", "name": "stub.request", "parent": r["parent"],
             "key": f"row{r['row']}", "start_us": r["arrival_us"], "end_us": r["done_us"]}
            for i, r in enumerate(log) if r["parent"]])
    return res, props, attempted, failed, problems, e2e, layers


# -- query suite -------------------------------------------------------------
def run_suite(args, cp, work):
    with open(SUITE_ORACLE) as f:
        oracle = json.load(f)
    out = os.path.join(work, "harness.json")
    run_jvm(cp, work, "harness.log",
            ["--mode", "query_suite", "--out", out, "--data", SUITE_DATA,
             "--queries", SUITE_QUERIES, "--seconds", str(args.seconds),
             "--trace", str(args.trace)])
    with open(out) as f:
        res = json.load(f)
    passes = res["passes"]
    attempted, failed, failed_names = check.check_query_passes(passes, oracle)
    problems = [f"query failed: {n}" for n in failed_names]
    # a typical warm pass: each passing query's median wall over the warm
    # passes (over the two that every run makes, their mean)
    warm = [[q for q in p["queries"] if q["name"] not in failed_names] for p in passes[1:]]
    warm_s = sum(median([q["wall_s"] for q in runs]) for runs in zip(*warm))
    e2e = {
        "cold_pass_s": passes[0]["wall_s"],
        "warm_pass_s": warm_s,
        "rows_per_s": sum(q["rows"] for q in warm[0]) / warm_s if warm_s else 0.0,
        "storage_mb": res["storage_mb"],
    }
    layers = {}
    if args.trace:
        counters = res.get("counters", {})
        traced = [p for p in passes if p["traced"]]
        per_pass = [suite_pass_layers(p, counters, res["cores"]) for p in traced]
        for k in per_pass[0]:
            layers[k.format(side="cold")] = per_pass[0][k]
            layers[k.format(side="warm")] = median([m[k] for m in per_pass[1:]])
        samples = sorted(q["wall_s"] for p in passes[2:] for q in p["queries"]
                         if q["name"] not in failed_names)
        layers["queries.p50_s.warm"] = median(samples)
        # the highest percentile with at least ten samples beyond it
        tail = samples[len(samples) - 11] if len(samples) > 10 else median(samples)
        layers["queries.tail_s.warm"] = tail
        print(f"queries.tail_s.warm is p{100 * max(0, len(samples) - 10) // max(1, len(samples))}"
              f" of {len(samples)} per-query samples (warm passes after the warm-up pass)")
        gaps = [abs(q["wall_s"] - q["construct_s"] - q["plan_s"] - q["exec_s"]) / q["wall_s"]
                for p in traced for q in p["queries"] if "error" not in q]
        layers["queries.layer_gap_pct"] = 100.0 * max(gaps) if gaps else 0.0
        layers["trace.overhead_pct"] = overhead_pct(
            [p["wall_s"] for p in passes[2:] if p["traced"]],
            [p["wall_s"] for p in passes[2:] if not p["traced"]])
        write_trace(args, work, res["spans"], [])
    return res, {"sf": "0.01", "tables_seed": 42, "queries": len(passes[0]["queries"])}, \
        attempted, failed, problems, e2e, layers


def suite_pass_layers(p, counters, cores):
    """Per-layer metrics of one traced pass, `{side}` left in the names."""
    qs = [q for q in p["queries"] if "error" not in q]
    prefix = f"{p['label']}{p['pass']}/"
    m = {f"queries.{k}.{{side}}": sum(q[k] for q in qs)
         for k in ("construct_s", "plan_s", "exec_s")}
    m["queries.construct_jobs.{side}"] = sum(
        v["jobs"] for k, v in counters.items()
        if k.startswith(prefix) and k.endswith("/queries.construct"))
    for fam in FAMILIES:
        m[f"family.{fam}.{{side}}_s"] = sum(q["wall_s"] for q in qs if q["family"] == fam)
    for k, v in spark_counters(counters, prefix, p["wall_s"], cores).items():
        m[f"spark.{k}.{{side}}"] = v
    return m


# -- tracing -----------------------------------------------------------------
def overhead_pct(traced, untraced):
    """Traced vs untraced warm passes after the warm-up pass, in %."""
    if not traced or not untraced:
        return 0.0
    return 100.0 * (median(traced) / median(untraced) - 1.0)


def self_times(spans):
    """Span name → total self time in seconds: a span's duration minus
    the union of its children's intervals."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0, None, None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, s["start_us"]), min(b, s["end_us"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        own = (s["end_us"] - s["start_us"] - covered) / 1e6
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def write_trace(args, work, spans, stub_spans):
    all_spans = spans + stub_spans
    selfs = self_times(all_spans)
    trace_dir = os.path.join(build.BUILD_DIR, "trace")
    os.makedirs(trace_dir, exist_ok=True)
    path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "self_s": selfs,
                   "spans": all_spans}, f)
    print(f"trace: {len(all_spans)} spans written to {os.path.relpath(path)}")
    for name, s in sorted(selfs.items(), key=lambda kv: -kv[1]):
        print(f"  self {name:<20} {s:10.3f} s")


# -- main --------------------------------------------------------------------
def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    try:
        cp = build.classpath()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")
    work = os.path.join(build.BUILD_DIR, "run", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    runner = run_suite if args.workload == "query_suite" else run_enrich
    try:
        res, props, attempted, failed, problems, e2e, layers = runner(args, cp, work)
    except (RuntimeError, OSError, ValueError, KeyError) as e:
        sys.exit(f"benchmark run failed: {e}")
    e2e["setup_s"] = res["setup"]["setup_s"]
    layers["setup.first_s"] = res["setup"]["first_s"]
    for p in problems[:20]:
        print(f"CHECK FAILED: {p}")
    failed_frac = failed / attempted
    print(f"failed_frac = {failed_frac:.6f} ({failed} of {attempted} checked items)")
    if args.trace:
        layers["failed_frac"] = failed_frac
        units = per_layer_units()
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    for k, v in metrics.items():
        print(f"{k:<34} {v['value']:14.6g} {v['unit']}")
    summary = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "input": props, "setup": res["setup"], "problems": problems,
               "metrics": metrics}
    results = os.path.join(build.BUILD_DIR, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(summary, f, indent=1)
    # the exports are checked; drop them so runs do not pile up files
    shutil.rmtree(os.path.join(work, "export"), ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
