#!/usr/bin/env python3
"""Benchmark of the air-quality lakehouse engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a source tree. It builds the program and the
benchmark's JVM side (perfbench/build.py), makes the seeded input
(perfbench/datagen.py), then runs one JVM at local[nproc] with one client
thread in a closed loop for at least S seconds and one step
(perfbench/src). The last stdout line is the result: the end-to-end
metrics BENCHMARK.json declares with --trace 0, its per-layer metrics
with --trace 1. The line before it, and .bench_build/results/, hold the
full detail: every timing's sample count, median and tail, set-up parts,
per-span breakdowns and the host diagnostics.

Workloads (a step is one closed-loop unit):
  weekly_increment  a series of 3 weekly MERGE increments, each followed
                    by a refresh measure; op = one increment, read = one
                    refresh
  dashboard         one report page of 16 queries; op = one page,
                    read = one measure or slicer query
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402
from stats import SpanTree, median, summary  # noqa: E402

# Input: 40k line items over two years (1/15 of the sf0.1 feed). Both
# workloads are bound by per-job and per-commit costs at this size, and a
# run stays near a minute, which the run budget needs.
ROWS, DAYS = 40_000, 730
INPUT_REPS = 3
JVM_TIMEOUT_S = 165

WORKLOADS = {  # name: (op kinds, read kinds)
    "weekly_increment": (("increment",), ("refresh",)),
    "dashboard": (("page",), ("measure", "slicer")),
}
# per-workload names of the timings, kept in the detail
NAMED = {"increment": "increment_p50_s", "refresh": "refresh_p50_s", "page": "page_s"}

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "read_p50_s": "s",
              "stored_bytes_per_row": "B/row", "live_heap_mb": "MB"}
PER_LAYER = {
    "spark.jobs": "count", "spark.tasks": "count", "spark.task_run_s": "s",
    "spark.task_cpu_s": "s", "spark.gc_s": "s", "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B", "spark.fetch_wait_s": "s",
    "spark.spill_bytes": "B", "spark.sched_delay_s": "s", "spark.job_gap_s": "s",
    "spark.core_busy_frac": "ratio", "pipeline.ingest_s": "s",
    "sources.merge_silver_s": "s", "sources.merge_dims_s": "s",
    "sources.merge_fact_s": "s", "sources.commits": "count",
    "sources.commit_gap_s": "s", "sources.files_written": "count",
    "sources.bytes_written": "B", "sources.bytes_written_per_row_inserted": "B/row",
    "sources.live_files": "count", "sources.scan_rows": "count",
    "sources.scan_selectivity": "ratio",
    "analytics.measure_s": "s", "analytics.refresh_s": "s",
    "analytics.jobs_per_query": "count",
    "plans.plan_s": "s", "plans.graft_rule_s": "s",
    "trace_overhead_s": "s",
}
WRITE_SPANS = ("sources.merge_silver", "sources.merge_dims", "sources.merge_fact")
QUERY_SPANS = ("analytics.measure", "analytics.slicer", "analytics.refresh")


def per_layer(trace, ops, primary, cores):
    """Per-layer metrics of the traced steps (medians over operations or
    spans) and the per-span detail."""
    tree = SpanTree(trace["spans"], trace["jobs"], trace["stages"], trace["queries"])
    spans = tree.spans
    by_name = defaultdict(list)
    tops = defaultdict(list)  # op id -> top-level spans of that op
    for sid, s in spans.items():
        by_name[s["name"]].append(sid)
        if s["parent"] == -1 and s["name"] != "bench.probe":
            tops[s["op"]].append(sid)

    def per_op(fn):
        return median([sum(fn(sid) for sid in ids) for ids in tops.values()]) or 0.0

    def med(name, fn):
        return median([fn(sid) for sid in by_name.get(name, [])]) or 0.0

    m = {}
    op_spark = [defaultdict(float) for _ in tops]
    for acc, ids in zip(op_spark, tops.values()):
        active = 0.0
        for sid in ids:
            for k, v in tree.spark(sid, cores).items():
                acc[k] += v
            active += tree.active_ms(sid) / 1e3
        acc["spark.core_busy_frac"] = (acc["spark.task_run_s"] / (active * cores)
                                       if active else 0.0)
    for k in [k for k in PER_LAYER if k.startswith("spark.")]:
        m[k] = median([a[k] for a in op_spark]) or 0.0
    m["pipeline.ingest_s"] = med("pipeline.ingest", tree.self_ms) / 1e3
    for n in ("silver", "dims", "fact"):
        m[f"sources.merge_{n}_s"] = med(f"sources.merge_{n}", tree.active_ms) / 1e3
    for k in ("commits", "files_written", "bytes_written"):
        m[f"sources.{k}"] = per_op(lambda sid, k=k: tree.counters(sid, k))
    m["sources.commit_gap_s"] = per_op(lambda sid: sum(
        tree.gap_ms(i) for i in tree.subtree(sid) if spans[i]["name"] in WRITE_SPANS) / 1e3)
    m["sources.bytes_written_per_row_inserted"] = median([
        sum(tree.counters(s, "bytes_written") for s in ids) /
        sum(tree.counters(s, "rows_inserted") for s in ids)
        for ids in tops.values()
        if sum(tree.counters(s, "rows_inserted") for s in ids)]) or 0.0
    m["sources.live_files"] = per_op(lambda sid: tree.counters(
        sid, "live_files.silver_measurement") + tree.counters(sid, "live_files.fact"))
    m["sources.scan_rows"] = per_op(lambda sid: tree.query_sum(sid, "scan_rows"))
    m["sources.scan_selectivity"] = med("analytics.slicer", lambda sid: (
        tree.counters(sid, "rows_kept") / max(1.0, tree.query_sum(sid, "scan_rows"))))
    for n in ("measure", "refresh"):
        m[f"analytics.{n}_s"] = med(f"analytics.{n}", tree.duration_ms) / 1e3
    qspans = [i for n in QUERY_SPANS for i in by_name.get(n, [])]
    m["analytics.jobs_per_query"] = (
        sum(len(tree.jobs[j]) for i in qspans for j in tree.subtree(i)) / len(qspans)
        if qspans else 0.0)
    m["plans.plan_s"] = per_op(lambda sid: tree.query_sum(sid, "plan_s"))
    m["plans.graft_rule_s"] = per_op(lambda sid: tree.query_sum(sid, "graft_rule_s"))
    traced = [o["seconds"] for o in ops if o["kind"] in primary and o["traced"]]
    plain = [o["seconds"] for o in ops if o["kind"] in primary and not o["traced"]]
    m["trace_overhead_s"] = median(traced) - median(plain)

    detail = {}
    for name, ids in sorted(by_name.items()):
        if name == "bench.probe":
            continue
        d = {"n": len(ids),
             "duration_s": median([tree.duration_ms(i) / 1e3 for i in ids]),
             "self_s": median([tree.self_ms(i) / 1e3 for i in ids]),
             "plan_s": median([tree.query_sum(i, "plan_s") for i in ids]),
             "scan_rows": median([tree.query_sum(i, "scan_rows") for i in ids])}
        sp = [tree.spark(i, cores) for i in ids]
        d.update({k: median([x[k] for x in sp]) for k in sp[0]})
        keys = {k for i in ids for j in tree.descendants(i)
                for k in spans[j].get("counters", {})}
        d.update({k: median([tree.counters(i, k) for i in ids]) for k in sorted(keys)
                  if not k.startswith("measure.")})
        detail[name] = d
    measures = defaultdict(list)
    for i in by_name.get("analytics.measure", []) + by_name.get("analytics.slicer", []):
        for k in spans[i].get("counters", {}):
            if k.startswith("measure."):
                measures[k[len("measure."):]].append(tree.duration_ms(i) / 1e3)
    detail["per_measure_s"] = {k: median(v) for k, v in sorted(measures.items())}
    return m, detail


def end_to_end(workload, out, input_s):
    """End-to-end metrics from the untraced operations, and the detail."""
    primary, reads = WORKLOADS[workload]
    plain = [o for o in out["ops"] if not o["traced"]]

    def secs(kinds):
        return [o["seconds"] for o in plain if o["kind"] in kinds]
    facts = out["facts"]
    e2e = {"setup_s": median(input_s) + out["session_s"] + out["prep_s"] + out["warm_s"],
           "op_p50_s": median(secs(primary)), "read_p50_s": median(secs(reads)),
           "stored_bytes_per_row": facts["stored_bytes"] / facts["live_rows"],
           "live_heap_mb": out["live_heap_mb"]}
    named = {NAMED[k]: median(secs((k,))) for k in NAMED if secs((k,))}
    if workload == "dashboard":
        named["query_p50_s"] = e2e["read_p50_s"]
    detail = {
        "setup": {"inputs_s": input_s, "session_s": out["session_s"],
                  "prepare_s": out["prep_s"], "warm_s": out["warm_s"]},
        "timings": {k: summary(secs((k,))) for k in sorted({o["kind"] for o in plain})},
        "named": named, "facts": facts, "loop_s": out["loop_s"], "steps": out["steps"],
        "peak_heap_after_gc_mb": out["peak_heap_after_gc_mb"], "diag": out["diag"]}
    return e2e, detail


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    built = build.ensure(root)
    work = os.path.join(root, ".bench_build", f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    res_dir = os.path.join(root, ".bench_build", "results")
    os.makedirs(res_dir, exist_ok=True)
    tag = os.path.join(res_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    try:
        data = os.path.join(work, "data")
        input_s = []
        for _ in range(INPUT_REPS):
            t0 = time.perf_counter()
            datagen.generate(data, a.seed, ROWS, DAYS)
            input_s.append(time.perf_counter() - t0)
        out_file = os.path.join(work, "out.json")
        cmd = build.java_command(built, work, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--work", work, "--out", out_file,
            "--first-day", str(datagen.FIRST_DAY), "--days", str(DAYS),
            "--launched-ms", str(int(time.time() * 1000))])
        log = os.path.join(work, "jvm.log")
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
            try:
                proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        shutil.copy(log, tag + ".log")
        if proc.returncode != 0 or not os.path.exists(out_file):
            sys.stderr.write(open(log).read()[-6000:])
            sys.exit(f"benchmark JVM failed (exit {proc.returncode})")
        out = json.load(open(out_file))
        ops = out["ops"]
        failed = sum(1 for o in ops if not o["ok"])
        e2e, detail = end_to_end(a.workload, out, input_s)
        if a.trace:
            values, detail["spans"] = per_layer(out["trace"], ops, WORKLOADS[a.workload][0],
                                                out["diag"]["nproc"])
            units, key = PER_LAYER, "per_layer"
        else:
            values, units, key = e2e, END_TO_END, "end_to_end"
        detail.update({"workload": a.workload, "seed": a.seed, "attempted": len(ops),
                       "failed": failed, "metrics": values})
        # the result line carries the metrics BENCHMARK.json declares
        declared = os.path.join(root, "BENCHMARK.json")
        if os.path.exists(declared):
            units = {m["name"]: m["unit"] for m in json.load(open(declared))[key]}
        with open(tag + ".json", "w") as f:
            json.dump(detail, f, indent=1)
        print(json.dumps(detail))
        print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                          "metrics": {k: {"value": values[k], "unit": u}
                                      for k, u in units.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
