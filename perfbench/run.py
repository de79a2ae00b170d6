#!/usr/bin/env python3
"""graft benchmark: one closed-loop client driving graft's public entry points.

Usage (from the repository root):
  python3 perfbench/run.py --workload {olap,ann_mixed,corpus} --seed N \
      --seconds S --trace {0,1} [--scale {bench,tiny}]

The first call builds graft and the harness (perfbench/build.py). Each call
starts one JVM that sets up the workload several times (session, seeded
inputs, warm-up), runs the closed loop for about S seconds and checks the
outputs. With --trace 0 the last stdout line carries the end-to-end metrics;
with --trace 1 it carries the per-layer metrics of a traced run. Lines before
it are a readable report; the full report and, when traced, the spans are
written under perfbench/out/. See perfbench/README.md for the metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402

# the operations each workload's latency metric is taken over
MAIN_KIND = {"olap": "query", "ann_mixed": "serve", "corpus": "call"}
END_TO_END = [("setup_s", "s"), ("latency_p50_ms", "ms"), ("ops_per_s", "1/s")]
PER_LAYER = [
    ("operators.construct_ms", "ms"), ("operators.construct_jobs", "count"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("codegen.compile_ms", "ms"), ("codegen.compiles", "count"),
    ("sources.scan_bytes", "B"), ("sources.scan_rows", "count"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("exec.execute_ms", "ms"),
    ("exec.task_cpu_ms", "ms"), ("exec.task_run_ms", "ms"), ("exec.gc_ms", "ms"),
    ("exec.core_util", "ratio"),
    ("exchange.shuffle_write_bytes", "B"), ("exchange.shuffle_read_bytes", "B"),
    ("exchange.spill_bytes", "B"),
    ("agg.sort_fallback_tasks", "count"),
    ("cache.blocks_written", "count"), ("cache.bytes_written", "B"),
    ("cache.storage_mem_mb", "MB"),
    ("trace.overhead_pct", "%"), ("trace.reconcile_err_ms", "ms"),
    ("trace.ops", "count"),
]
# construct + execute must add up to the operation's latency within this
RECONCILE_TOL_MS = 1.0
# a job's window may stick out of its span by the listener clock's resolution
JOB_WINDOW_SLACK_MS = 5.0
TIME_LIMIT_S = 170
SETUPS = 3
# untimed units after the last set-up (one unit at tiny scale): serve latency
# falls by a fifth or more over the first ten seconds of serving in a fresh
# JVM while the JIT compiles
PREWARM_S = 10.0


def host_block():
    """Cores, load and pressure-stall information of the machine right now."""
    h = {"nproc": len(os.sched_getaffinity(0))}
    with open("/proc/stat") as fh:
        h["cpu_jiffies"] = [int(x) for x in fh.readline().split()[1:]]
    with open("/proc/loadavg") as fh:
        h["load1"], h["load5"], h["load15"] = map(float, fh.read().split()[:3])
    for res in ("cpu", "memory", "io"):
        try:
            with open(f"/proc/pressure/{res}") as fh:
                for line in fh:
                    kind, *fields = line.split()
                    for f in fields:
                        k, v = f.split("=")
                        if k.startswith("avg"):
                            h[f"psi_{res}_{kind}_{k}"] = float(v)
        except OSError:
            pass
    return h


def contamination(start, end):
    """Core-aware flag: another tenant is competing for the machine. The
    benchmark itself keeps up to nproc task threads plus its driver and JIT
    busy, so load counts as foreign only beyond 2 x nproc, CPU pressure (the
    share of time some runnable thread waited) only beyond 5% per core, and
    time stolen by the hypervisor beyond 5% of all cores' time in the run."""
    n = start["nproc"]
    delta = [b - a for a, b in zip(start["cpu_jiffies"], end["cpu_jiffies"])]
    steal_pct = 100.0 * delta[7] / sum(delta) if len(delta) > 7 and sum(delta) else 0.0
    limits = {"load1": 2.0 * n, "psi_cpu_some_avg60": min(90.0, 5.0 * n)}
    reasons = [f"{tag} {k}={h[k]:.2f} > {lim:.2f}"
               for tag, h in (("start", start), ("end", end))
               for k, lim in limits.items() if h.get(k, 0.0) > lim]
    if steal_pct > 5.0:
        reasons.append(f"steal {steal_pct:.1f}% > 5.0%")
    return {"limits": dict(limits, steal_pct=5.0), "steal_pct": steal_pct,
            "contaminated": bool(reasons), "reasons": reasons}


def run_jvm(args, out, cores, deadline):
    cmd, env = build.java_command(
        ["--workload", args.workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", str(args.trace),
         "--scale", args.scale, "--cores", str(cores), "--setups", str(args.setups),
         "--prewarm", str(0.0 if args.scale == "tiny" else PREWARM_S)], out)
    with open(os.path.join(out, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            return None
        finally:  # on timeout, SIGTERM or Ctrl-C: stop the JVM, then wait for it
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def layer_metrics(res, cores):
    """Per-operation figures of the traced operations: medians for wall
    times, per-operation means for counts, bytes and summed task or phase
    times (Catalyst phases come in whole milliseconds)."""
    traced = [o for o in res["ops"] if o["traced"] and o["ok"]]
    plain = [o for o in res["ops"] if not o["traced"] and o["ok"]]
    if not traced:
        return {}

    def both(o, k):
        return o["construct"][k] + o["execute"][k]

    def per_op(k):
        return stats.mean([both(o, k) for o in traced])

    def med(f):
        return stats.median([f(o) for o in traced])

    run_ms = sum(o["execute"]["task_run_ms"] for o in traced)
    wall_core_ms = sum(o["execute_ms"] for o in traced) * cores
    m = {
        "operators.construct_ms": med(lambda o: o["construct_ms"]),
        "operators.construct_jobs": stats.mean([o["construct"]["jobs"] for o in traced]),
        "catalyst.analysis_ms": per_op("analysis_ms"),
        "catalyst.optimization_ms": per_op("optimization_ms"),
        "catalyst.planning_ms": per_op("planning_ms"),
        "codegen.compile_ms": per_op("codegen_compile_ms"),
        "codegen.compiles": per_op("codegen_compiles"),
        "sources.scan_bytes": per_op("scan_bytes"),
        "sources.scan_rows": per_op("scan_rows"),
        "scheduler.jobs": per_op("jobs"),
        "scheduler.stages": per_op("stages"),
        "scheduler.tasks": per_op("tasks"),
        "exec.execute_ms": med(lambda o: o["execute_ms"]),
        "exec.task_cpu_ms": per_op("task_cpu_ms"),
        "exec.task_run_ms": per_op("task_run_ms"),
        "exec.gc_ms": per_op("gc_ms"),
        "exec.core_util": run_ms / wall_core_ms if wall_core_ms else 0.0,
        "exchange.shuffle_write_bytes": per_op("shuffle_write_bytes"),
        "exchange.shuffle_read_bytes": per_op("shuffle_read_bytes"),
        "exchange.fetch_wait_ms": per_op("fetch_wait_ms"),
        "exchange.spill_bytes": per_op("spill_bytes"),
        "agg.sort_fallback_tasks": per_op("sort_fallback_tasks"),
        "cache.blocks_written": per_op("blocks_written"),
        "cache.bytes_written": per_op("bytes_written"),
        "cache.storage_mem_mb": med(lambda o: o["storage_mem_mb"]),
        "trace.reconcile_err_ms": max(abs(o["latency_ms"] - o["construct_ms"] - o["execute_ms"])
                                      for o in traced),
        "trace.ops": len(traced),
    }
    # tracing overhead: per operation name, traced median over untraced
    # median, then the median of those ratios
    ratios = []
    for name in sorted({o["name"] for o in traced}):
        t = [o["latency_ms"] for o in traced if o["name"] == name]
        u = [o["latency_ms"] for o in plain if o["name"] == name]
        if u:
            ratios.append(stats.median(t) / stats.median(u))
    m["trace.overhead_pct"] = (stats.median(ratios) - 1.0) * 100.0 if ratios else 0.0
    return m


def jobs_outside_spans(out):
    """Jobs whose window is not inside the span they were charged to."""
    path = os.path.join(out, "spans.json")
    if not os.path.isfile(path):
        return 0
    with open(path) as fh:
        spans = json.load(fh)["spans"]
    return sum(1 for s in spans for c in s["children"] for j in c["jobs"]
               if j["start_ms"] < c["start_ms"] - JOB_WINDOW_SLACK_MS
               or j["end_ms"] > c["end_ms"] + JOB_WINDOW_SLACK_MS)


def main():
    t0 = time.monotonic()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(MAIN_KIND))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "tiny"), default="bench")
    ap.add_argument("--setups", type=int, default=SETUPS)
    args = ap.parse_args()

    try:
        build.build()
    except (build.BuildError, subprocess.SubprocessError, OSError) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    deadline = time.monotonic() + TIME_LIMIT_S - min(60.0, time.monotonic() - t0)

    out = os.path.join(HERE, "out", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    host_start = host_block()
    cores = min(4, host_start["nproc"])
    rc = run_jvm(args, out, cores, deadline - 15)
    host_end = host_block()
    if rc != 0:
        why = "timed out" if rc is None else f"exited with {rc}"
        print(f"[perfbench] harness {why}; see {os.path.relpath(out)}/jvm.log", file=sys.stderr)
        return 1
    with open(os.path.join(out, "result.json")) as fh:
        res = json.load(fh)
    info = res["info"]
    checks = list(res["checks"])
    if "oracle" in info:
        import oracle
        for q, (ok, detail) in sorted(oracle.check(info["oracle"]).items()):
            covers = [o["id"] for o in res["ops"] if o["name"] == q]
            checks.append({"name": f"{q}.duckdb_oracle", "ok": ok, "detail": detail,
                           "covers": covers})
    digests = info.get("input_digests", [])
    checks.append({"name": "inputs.same_seed_same_digest",
                   "ok": len(digests) > 0 and len(set(digests)) == 1,
                   "detail": f"{len(set(digests))} distinct digest(s) over {len(digests)} set-ups",
                   "covers": []})

    ops = res["ops"]
    wrong = {i for c in checks if not c["ok"] for i in c["covers"]}
    failed_ids = {o["id"] for o in ops if not o["ok"]} | wrong
    kind = MAIN_KIND[args.workload]
    main_ok = [o for o in ops if o["kind"] == kind and o["id"] not in failed_ids]
    lat = [o["latency_ms"] for o in main_ok]
    correct = bool(ops) and not failed_ids and all(c["ok"] for c in checks)

    if args.workload == "corpus":
        # a batch's five calls differ up to sixfold in cost, so the median of
        # all calls would be that of whichever call sits in the middle; the
        # batch's median latency is the sum of each call's median instead
        by_call = {}
        for o in main_ok:
            by_call.setdefault(o["name"], []).append(o["latency_ms"])
        p50 = sum(stats.median(v) for v in by_call.values())
    else:
        p50 = stats.median(lat) if lat else 0.0
    e2e = {
        "setup_s": stats.median(info["setup_s"]),
        "latency_p50_ms": p50,
        "ops_per_s": (len(ops) - len(failed_ids)) / (sum(o["latency_ms"] for o in ops) / 1000.0),
    }
    extra = {"fail_ratio": len(failed_ids) / max(1, len(ops)),
             "rss_peak_mb": info["rss_peak_mb"],
             "storage_mem_end_mb": info["storage_mem_end_mb"],
             "storage_pool_mb": info["storage_pool_mb"]}
    if len(lat) >= 100:
        extra["latency_p90_ms"] = stats.percentile(lat, 90)
    if args.workload == "corpus":
        calls = [o for o in ops if o["kind"] == "call"]
        extra["docs_per_s"] = info["docs_per_batch"] * len(calls) / 5 / (
            sum(o["latency_ms"] for o in calls) / 1000.0)
    if args.workload == "ann_mixed":
        appends = [o["latency_ms"] for o in ops if o["kind"] == "append" and o["ok"]]
        if appends:
            extra["append_p50_ms"] = stats.median(appends)
        extra["index_build_s"] = stats.median(info["index_build_s"])

    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "input_digest": digests[0] if digests else None,
        "inputs": {"rows": info.get("input_rows"), "parquet_bytes": info.get("input_bytes")},
        "samples": {"ops": len(ops), "latency": len(lat), "setups": len(info["setup_s"]),
                    "units": info["units"], "measure_s": info["measure_s"],
                 "prewarm_units": info["prewarm_units"]},
        "setup_s_all": info["setup_s"],
        "end_to_end": e2e, "extra": extra, "checks": checks,
        "host": {"start": host_start, "end": host_end, "local_cores": cores,
                 **contamination(host_start, host_end)},
    }
    if args.trace:
        layer = layer_metrics(res, cores)
        report["per_layer"] = layer
        report["trace"] = {"reconcile_tol_ms": RECONCILE_TOL_MS,
                           "reconciled": layer.get("trace.reconcile_err_ms", 0.0) <= RECONCILE_TOL_MS,
                           "jobs_outside_spans": jobs_outside_spans(out),
                           "unattributed_jobs": info.get("unattributed_jobs", 0),
                           "spans_file": os.path.relpath(os.path.join(out, "spans.json"))}
        metrics = {k: {"value": layer.get(k, 0.0), "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    with open(os.path.join(out, "report.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    for scratch in ("data", "results", "spark-local", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(out, scratch), ignore_errors=True)

    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"input_digest={report['input_digest']}")
    print(f"samples: {json.dumps(report['samples'])}")
    for c in checks:
        if not c["ok"]:
            print(f"CHECK FAILED {c['name']}: {c['detail']}")
    print(f"checks: {sum(c['ok'] for c in checks)}/{len(checks)} passed")
    print(f"extra: {json.dumps(extra)}")
    if args.trace:
        print(f"trace: {json.dumps(report['trace'])}")
    print(f"host: contaminated={report['host']['contaminated']} "
          f"{'; '.join(report['host']['reasons'])}")
    print(json.dumps({"correct": correct, "attempted": len(ops),
                      "failed": len(failed_ids), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
