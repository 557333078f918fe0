#!/usr/bin/env python3
"""Runs one benchmark workload against the engine built from this tree.

Usage (from the repository root):
  python3 perfbench/run.py --workload federated_read --seed 1 \
      --seconds 10 --trace 0 [--smoke] [--keep]

Builds the engine and harness (perfbench/build.py), generates the
seeded tables (perfbench/datagen.py), runs the closed-loop workload in
one JVM, checks every distinct statement against DuckDB, and prints one
`metric <name> <value> <unit>` line per metric, then one JSON object as
the last line of stdout. `--trace 0` reports the end-to-end metrics,
`--trace 1` the per-layer split (and the traced run's own end-to-end
numbers, whose gap to an untraced run is the tracing overhead).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build as bld  # noqa: E402
import datagen  # noqa: E402
import verify  # noqa: E402
import workloads  # noqa: E402

RUN_LIMIT_S = 170
# CPU seconds the harness's speed job (Harness.Speedometer) takes at the
# reference speed: its median on the 4-core development VM. Times are
# reported as they would read at that speed.
SPEED_REF_S = 0.033

END_TO_END = [  # name, unit: the metrics BENCHMARK.json gates
    ("setup_s", "s"), ("read_p50_s", "s"), ("read_tail_s", "s"),
    ("ops_per_s", "1/s"), ("cpu_s_per_op", "s"), ("peak_mem_mb", "MB"),
]
PER_LAYER_UNITS = {
    "entry.build_ms": "ms", "entry.eager_jobs": "count",
    "entry.driver_gap_ms": "ms",
    "plans.analysis_ms": "ms", "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms", "plans.exchanges": "count",
    "plans.broadcasts": "count",
    "operators.jobs": "count", "operators.stages": "count",
    "operators.tasks": "count", "operators.sched_delay_ms": "ms",
    "operators.task_run_ms": "ms", "operators.task_cpu_ms": "ms",
    "operators.gc_ms": "ms", "operators.shuffle_write_bytes": "bytes",
    "operators.shuffle_read_bytes": "bytes", "operators.shuffle_records": "count",
    "operators.spill_bytes": "bytes", "operators.peak_exec_mem_bytes": "bytes",
    "operators.core_util": "ratio",
    "sources.scan_rows": "count", "sources.rows_per_result_row": "ratio",
    "sources.lake_shards_planned": "count", "sources.lake_shards_skipped": "count",
    "sources.lake_skip_ratio": "ratio", "sources.lake_parts_skipped": "count",
    "sources.lake_cols_decoded": "count", "sources.lake_batches_decoded": "count",
    "sources.lake_metadata_only_reads": "count", "sources.lake_agg_pushdowns": "count",
    "sources.mongo_cols_decoded": "count",
    "sources.commit_ms": "ms", "sources.parts_adopted": "count",
    "sources.parts_merged": "count", "sources.writer_rotations": "count",
    "sources.bytes_written": "bytes", "sources.files_written": "count",
    "streaming.batches": "count", "streaming.batch_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.input_rows": "count", "streaming.state_rows": "count",
    "streaming.state_commit_ms": "ms", "streaming.state_mem_bytes": "bytes",
    "spans.entry_self_ms": "ms", "spans.plan_self_ms": "ms",
    "spans.exec_self_ms": "ms", "spans.accounted_frac": "ratio",
    "write_p50_s": "s", "write_tail_s": "s", "fail_frac": "ratio",
    "lake_bytes_per_row": "bytes", "peak_rss_mb": "MB",
    "trace.setup_s": "s", "trace.read_p50_s": "s", "trace.read_tail_s": "s",
    "trace.ops_per_s": "1/s", "trace.cpu_s_per_op": "s",
}


def percentile(values, pct):
    """Linear-interpolated percentile; 0.0 for no values."""
    v = sorted(values)
    if not v:
        return 0.0
    k = (len(v) - 1) * pct / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def mean(values):
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def git_commit(root):
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true", help="tiny sf0.001 tables")
    p.add_argument("--keep", action="store_true", help="keep the run directory")
    return p.parse_args(argv)


def launch(classpath, run_dir, limit_s):
    heap = os.environ.get("SPARK_DRIVER_MEM", "2g")
    cmd = bld.java_cmd(classpath, run_dir, heap)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"harness exceeded {limit_s:.0f} s; see {run_dir}/jvm.log")
    if rc != 0:
        tail = open(os.path.join(run_dir, "jvm.log")).read()[-3000:]
        raise SystemExit(f"harness exited {rc}:\n{tail}")
    return heap


def host_stat():
    """(steal, busy including steal) clock ticks of the host, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return [0, 0]
    # user nice system idle iowait irq softirq steal
    return [f[7], f[0] + f[1] + f[2] + f[5] + f[6] + f[7]]


def slowness(summary, lo_ms, hi_ms):
    """How many times slower than the reference the host ran between two
    instants: the speed job's median CPU time then over SPEED_REF_S."""
    got = [c for t, c in summary["speed"] if lo_ms <= t <= hi_ms]
    return statistics.median(got) / SPEED_REF_S if got else 1.0


def compute(workload, ops, stmts, summary, failed_stmts, final_failed, trace,
            net=True):
    """All metrics of one run, end-to-end and (traced) per-layer. With
    `net`, times are at the reference host speed: each wall time is first
    scaled by 1 - the share of busy time stolen while it ran, then every
    time is divided by the host's slowness over the span it fell in."""
    cfg = workloads.WORKLOADS[workload]

    def kept(share):
        return 1.0 - share if net else 1.0

    slow_win = slow_setup = 1.0
    if net:
        slow_win = slowness(summary, summary["window_open_ms"], summary["window_close_ms"])
        # the job's first seconds run before the JIT has compiled it
        slow_setup = slowness(summary, summary["jvm_start_ms"] + 5000,
                              summary["setup_end_ms"])
    done = [o for o in ops if o["ok"] and not o["warm"]]
    reads = [o["wall_ms"] / 1000 * kept(o["steal"]) / slow_win
             for o in done if o["cls"] == "read"]
    writes = [o["wall_ms"] / 1000 * kept(o["steal"]) / slow_win
              for o in done if o["cls"] == "write"]
    failed = sum(1 for o in ops if not o["ok"] or o["stmt"] in failed_stmts)
    failed += sum(1 for o in done if o["cls"] == "write"
                  and set(o["pins"]) & final_failed)
    n = max(1, len(done))
    e2e = {
        "failed": failed,
        "setup_s": summary["setup_s"] * kept(summary["setup_steal"]) / slow_setup,
        "read_p50_s": percentile(reads, 50),
        "read_tail_s": percentile(reads, cfg["tail_pct"]),
        "ops_per_s": len(done) * slow_win / (summary["window_s"]
                                             * kept(summary["window_steal"])),
        "cpu_s_per_op": summary["cpu_s"] / n / slow_win,
        # heap live after a collection plus non-heap: the process's own
        # use; VmHWM mostly tracks how far the collector let the heap grow
        "peak_mem_mb": summary["peak_heap_after_gc_mb"] + summary["peak_non_heap_mb"],
        "peak_rss_mb": summary["peak_rss_mb"],
        "write_p50_s": percentile(writes, 50),
        "write_tail_s": percentile(writes, cfg["tail_pct"]),
        "fail_frac": failed / max(1, len(ops)),
    }
    fin = summary.get("finals", [])
    if fin:
        e2e["lake_bytes_per_row"] = sum(f["bytes"] for f in fin) / max(1, sum(f["rows"] for f in fin))
    layer = {}
    if trace:
        def m(k, sel=done):
            return mean(o.get(k, 0) for o in sel)
        wr = [o for o in done if o["cls"] == "write"]
        lk = summary["lake_counters"]
        st = summary["streaming"]
        batches = max(1, st["batches"])
        plan = [o.get("plan", {}) for o in done]
        wall = sum(o["wall_ms"] for o in done)
        result_rows = sum(o["rows"] for o in done)
        scan_rows = sum(p.get("scan_rows", 0) for p in plan)
        layer = {
            "entry.build_ms": m("entry_self_ms"), "entry.eager_jobs": m("eager_jobs"),
            "entry.driver_gap_ms": m("driver_gap_ms"),
            "plans.analysis_ms": mean(p.get("analysis_ms", 0) for p in plan),
            "plans.optimization_ms": mean(p.get("optimization_ms", 0) for p in plan),
            "plans.planning_ms": mean(p.get("planning_ms", 0) for p in plan),
            "plans.exchanges": mean(p.get("exchanges", 0) for p in plan),
            "plans.broadcasts": mean(p.get("broadcasts", 0) for p in plan),
            "operators.jobs": m("jobs"), "operators.stages": m("stages"),
            "operators.tasks": m("tasks"), "operators.sched_delay_ms": m("sched_delay_ms"),
            "operators.task_run_ms": m("task_run_ms"), "operators.task_cpu_ms": m("task_cpu_ms"),
            "operators.gc_ms": m("gc_ms"),
            "operators.shuffle_write_bytes": m("shuffle_write_bytes"),
            "operators.shuffle_read_bytes": m("shuffle_read_bytes"),
            "operators.shuffle_records": m("shuffle_records"),
            "operators.spill_bytes": m("spill_bytes"),
            "operators.peak_exec_mem_bytes": max([o.get("peak_exec_mem_bytes", 0) for o in done] or [0]),
            "operators.core_util": summary.get("core_util", 0.0),
            "sources.scan_rows": scan_rows / n,
            "sources.rows_per_result_row": scan_rows / max(1, result_rows),
            "sources.lake_skip_ratio": lk["lake_shards_skipped"] / max(
                1, lk["lake_shards_planned"] + lk["lake_shards_skipped"]),
            "sources.commit_ms": m("after_last_job_ms", wr),
            "sources.bytes_written": mean(o.get("plan", {}).get("bytes_written", 0) for o in wr),
            "sources.files_written": mean(o.get("plan", {}).get("files_written", 0) for o in wr),
            "streaming.batches": st["batches"] / n,
            "streaming.batch_ms": st["batch_ms"] / batches,
            "streaming.add_batch_ms": st["add_batch_ms"] / batches,
            "streaming.wal_commit_ms": st["wal_commit_ms"] / batches,
            "streaming.input_rows": st["input_rows"] / batches,
            "streaming.state_rows": st["state_rows"] / batches,
            "streaming.state_commit_ms": st["state_commit_ms"] / batches,
            "streaming.state_mem_bytes": st["state_mem_bytes"],
            "spans.entry_self_ms": m("entry_self_ms"), "spans.plan_self_ms": m("plan_self_ms"),
            "spans.exec_self_ms": m("exec_self_ms"),
            "spans.accounted_frac": sum(o.get("entry_self_ms", 0) + o.get("plan_self_ms", 0)
                                        + o.get("exec_self_ms", 0) for o in done) / max(1e-9, wall),
        }
        for k in ["lake_shards_planned", "lake_shards_skipped", "lake_parts_skipped",
                  "lake_cols_decoded", "lake_batches_decoded", "lake_metadata_only_reads",
                  "lake_agg_pushdowns", "mongo_cols_decoded"]:
            layer[f"sources.{k}"] = lk[k] / n
        for k in ["parts_adopted", "parts_merged", "writer_rotations"]:
            layer[f"sources.{k}"] = lk[k] / max(1, len(wr))
        for k in ["write_p50_s", "write_tail_s", "fail_frac", "lake_bytes_per_row",
                  "peak_rss_mb"]:
            layer[k] = e2e.get(k, 0.0)
        for k in ["setup_s", "read_p50_s", "read_tail_s", "ops_per_s", "cpu_s_per_op"]:
            layer[f"trace.{k}"] = e2e[k]
    return e2e, layer


def main(argv):
    args = parse_args(argv)
    t_start = time.time()
    root = os.getcwd()
    for need in ["src/main/scala/graft/SparkEntry.scala", "tools/check.py", "build.sbt"]:
        if not os.path.exists(os.path.join(root, need)):
            print(f"run: {need} not found; run from the repository root", file=sys.stderr)
            return 2
    classpath = bld.build(root)
    t_built = time.time()
    cfg = dict(workloads.WORKLOADS[args.workload])
    if args.smoke:
        cfg.update(workloads.SMOKE)
        cfg["warmup_passes"] = min(1, cfg["warmup_passes"])
    run_dir = os.path.join(bld.build_dir(root), "runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    rows = datagen.generate(data_dir, args.seed, cfg["sf"], cfg["docs"], cfg["vecs"])
    os.makedirs(os.path.join(run_dir, "tmp"))
    plan, twins, extra = workloads.build(args.workload, args.seed, rows)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    out_dir = os.path.join(run_dir, "out")
    plan.update({"out_dir": out_dir, "cpus": cpus, "trace": bool(args.trace),
                 "seconds": args.seconds, "warmup_passes": cfg["warmup_passes"],
                 "data_dir": data_dir, "tmp_dir": os.path.join(run_dir, "tmp")})
    plan_path = os.path.join(run_dir, "plan.json")
    plan["host_stat0"] = host_stat()
    with open(plan_path, "w") as fh:
        json.dump(plan, fh)
    limit = RUN_LIMIT_S - (time.time() - t_built) - 5
    heap = launch(classpath, run_dir, limit)

    ops = [json.loads(line) for line in open(os.path.join(out_dir, "ops.jsonl"))]
    stmts = json.load(open(os.path.join(out_dir, "stmts.json")))
    summary = json.load(open(os.path.join(out_dir, "summary.json")))
    expected, actual, notes = verify.verify_run(
        root, out_dir, data_dir, stmts, twins, summary, extra)
    bad = set(verify.compare(expected, actual))
    by_id = {s["id"]: s["text"] for s in stmts}
    failed_stmts = {by_id[k] for k in bad if k in by_id}
    final_failed = {k[len("final_"):] for k in bad if k.startswith("final_")}
    e2e, layer = compute(args.workload, ops, stmts, summary, failed_stmts,
                         final_failed, args.trace)
    failed = e2e.pop("failed")
    raw, _ = compute(args.workload, ops, stmts, summary, failed_stmts, final_failed, 0,
                     net=False)
    raw.pop("failed")

    seen, repeats = set(), 0
    for o in ops:
        repeats += o["stmt"] in seen
        seen.add(o["stmt"])
    counts = {}
    text_shape = {s["text"]: s["shape"] for s in stmts}
    for o in ops:
        sh = text_shape.get(o["stmt"], "?")
        counts[sh] = counts.get(sh, 0) + 1
    provenance = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "smoke": args.smoke,
        "git_commit": git_commit(root),
        "source_hash": os.path.basename(classpath.split(os.pathsep)[0]),
        "nproc": os.cpu_count(), "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark_cpus": cpus, "driver_heap": heap, "max_heap_mb": summary["max_heap_mb"],
        "jvm": summary["java_version"], "spark": summary["spark_version"],
        "scale": cfg, "rows": rows,
        "op_counts": counts, "repeat_share": repeats / max(1, len(ops)),
        "distinct_statements": len(stmts), "checked": len(expected),
        "mismatched": sorted(bad)[:20], "notes": notes[:20],
        "errors": sorted({o["err"] for o in ops if o["err"]})[:10],
        "tail_pct": cfg["tail_pct"], "warmup_passes": cfg["warmup_passes"],
        "host_slowness": {
            "setup": slowness(summary, summary["jvm_start_ms"] + 5000, summary["setup_end_ms"]),
            "window": slowness(summary, summary["window_open_ms"], summary["window_close_ms"])},
        "steal_share": {"setup": summary["setup_steal"], "window": summary["window_steal"]},
        "measured_ops": sum(not o["warm"] for o in ops),
        "run_dir": run_dir if args.keep else None,
    }
    result_dir = os.path.join(bld.build_dir(root), "results")
    os.makedirs(result_dir, exist_ok=True)
    with open(os.path.join(result_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"),
              "w") as fh:
        json.dump({"provenance": provenance, "end_to_end": e2e, "per_layer": layer,
                   "raw_end_to_end": raw, "summary": summary}, fh, indent=1)
    if not args.keep:
        shutil.rmtree(run_dir, ignore_errors=True)

    units = dict(END_TO_END)
    units.update({"write_p50_s": "s", "write_tail_s": "s", "fail_frac": "ratio",
                  "lake_bytes_per_row": "bytes", "peak_rss_mb": "MB"})
    print("provenance " + json.dumps(provenance, sort_keys=True))
    for k, v in e2e.items():
        print(f"metric {k} {v:.6g} {units[k]}")
    for k, v in layer.items():
        print(f"layer {k} {v:.6g} {PER_LAYER_UNITS[k]}")
    print(f"elapsed {time.time() - t_start:.1f} s")
    shown = layer if args.trace else {k: e2e[k] for k, _ in END_TO_END}
    unit_of = PER_LAYER_UNITS if args.trace else units
    print(json.dumps({
        "correct": not bad and not notes and failed == 0,
        "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of[k]} for k, v in shown.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
