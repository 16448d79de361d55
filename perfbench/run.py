"""Benchmark entry point.

    python3 perfbench/run.py --workload query|ingest --seed N --seconds S --trace 0|1

Starts the engine on local[<cpus>], builds the HTTP façade, runs one
closed-loop workload (see workloads.py), checks every output and prints
one JSON object as the last line of stdout. With --trace 0 it reports the
end-to-end metrics; with --trace 1 the per-layer metrics of a separate
traced pass and the tracing overhead. Must be run from the repo root.
"""

from __future__ import annotations

import argparse
import collections
import gc
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402

SETUP_REPS = 3


def parse_args(argv):
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def timed_setup(wl, spark, work_dir):
    """Set-up = new Spark context + catalog + engine + HTTP server up and
    answering /ping. Repeated; the median is reported."""
    from pyspark import SparkContext
    times = []
    for _ in range(SETUP_REPS):
        # tear the previous stack down outside the timing: stopping the
        # HTTP server waits for its poll loop (up to 0.5 s)
        wl.close()
        spark.stop()
        # collect the previous context's garbage now, not inside the timing
        gc.collect()
        SparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        spark = harness.start_spark(work_dir)
        wl.setup(spark)
        times.append(time.perf_counter() - t0)
    return spark, times


def measure(wl, seconds, min_ops):
    """Whole rounds until `seconds` have passed and `min_ops` ops ran."""
    ops, rounds = [], []
    start = time.perf_counter()
    while True:
        t0 = time.perf_counter()
        ops += wl.run_round()
        rounds.append(time.perf_counter() - t0)
        if time.perf_counter() - start >= seconds and len(ops) >= min_ops:
            break
    return ops, rounds, time.perf_counter() - start


def warm_drift(warm_ops, ops):
    """Per op kind, the median measured latency against the kind's last
    warm-up sample, as a relative change; the median over the kinds. A
    run whose ops still speed up strongly after warm-up reads well below
    0."""
    last = {op.kind: op.seconds for op in warm_ops if op.ok}
    by_kind = collections.defaultdict(list)
    for op in ops:
        if op.ok and op.kind in last:
            by_kind[op.kind].append(op.seconds)
    changes = [statistics.median(v) / last[k] - 1
               for k, v in by_kind.items()]
    return statistics.median(changes) if changes else float("nan")


def summarize(wl, ops, rounds, elapsed, warm_ops=()):
    lat = [op.seconds if op.ok else harness.REQUEST_TIMEOUT_S for op in ops]
    n_ok = sum(op.ok for op in ops)
    tail = harness.percentile(lat, wl.tail_pct)
    beyond_kinds = collections.Counter(
        op.kind for op, x in zip(ops, lat) if x > tail)
    return {
        "ops_per_s": len(ops) / elapsed,
        "op_p50_ms": statistics.median(lat) * 1000,
        "op_tail_ms": tail * 1000,
        "points_per_s": sum(op.points for op in ops) / elapsed,
        "ok_ratio": n_ok / len(ops),
        "_beyond": harness.beyond(lat, wl.tail_pct),
        "_drift": harness.drift(rounds) if len(rounds) >= 3 else None,
        "_warm_drift": warm_drift(warm_ops, ops),
        "_beyond_kinds": beyond_kinds,
        "_rounds": len(rounds),
    }


def report_line(wl, ops, s):
    drift = ("n/a (fewer than 3 rounds)" if s["_drift"] is None
             else f"{s['_drift']:+.1%}")
    print(f"# {wl.name}: {len(ops)} ops in {s['_rounds']} rounds, "
          f"tail=p{wl.tail_pct:g} with {s['_beyond']} samples beyond, "
          f"drift first->last third of rounds {drift}, "
          f"last warm-up op->measured median of its kind "
          f"{s['_warm_drift']:+.1%}")
    print("# beyond the tail: " + ", ".join(
        f"{k} {n}" for k, n in sorted(s["_beyond_kinds"].items())))
    by_kind = collections.defaultdict(list)
    for op in ops:
        by_kind[op.kind].append(op.seconds)
    print("# median ms per kind: " + ", ".join(
        f"{k} {statistics.median(v) * 1000:.0f}"
        for k, v in sorted(by_kind.items())))


def run_untraced(wl, args, work_dir):
    marks = [("start", time.perf_counter())]
    spark = harness.start_spark(work_dir)
    try:
        wl.prepare(spark)
        marks.append(("spark+inputs", time.perf_counter()))
        spark, setups = timed_setup(wl, spark, work_dir)
        marks.append(("set-ups", time.perf_counter()))
        warm_ops = wl.warmup()
        marks.append(("warm-up", time.perf_counter()))
        ops, rounds, elapsed = measure(wl, args.seconds, wl.min_ops())
        marks.append(("measure", time.perf_counter()))
        wl.finish(ops)
        # before the output checks, which load their own data
        rss = harness.peak_rss_mb()
        errors = wl.check(ops)
        marks.append(("checks", time.perf_counter()))
    finally:
        wl.close()
        harness.shutdown_spark(spark)
    s = summarize(wl, ops, rounds, elapsed, warm_ops)
    report_line(wl, ops, s)
    print(f"# set-up seconds: {', '.join(f'{t:.3f}' for t in setups)}")
    print("# phase seconds: " + ", ".join(
        f"{name} {t - t0:.1f}" for (_, t0), (name, t) in zip(marks, marks[1:])))
    for e in errors:
        print(f"# CHECK FAILED: {e}")
    units = {"setup_s": "s", "peak_rss_mb": "MB", "ok_ratio": "ratio",
             "ops_per_s": "1/s", "op_p50_ms": "ms", "op_tail_ms": "ms",
             "points_per_s": "1/s"}
    values = dict(s, setup_s=statistics.median(setups), peak_rss_mb=rss)
    return {
        "correct": not errors,
        "attempted": len(ops),
        "failed": sum(not op.ok for op in ops),
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items()},
    }


def run_traced(wl, args, work_dir):
    from tracing import Tracer, read_event_log
    half = args.seconds / 2
    spark = harness.start_spark(work_dir)
    try:
        # untraced baseline: no event log, no job groups of our own
        wl.prepare(spark)
        wl.setup(spark)
        warm_ops = wl.warmup()
        base_ops, base_rounds, base_el = measure(wl, half, 1)
        # traced session (a fresh context on the same JVM, event log on):
        # the layer calls, which also re-warm the new context, then the
        # same loop
        spark.stop()
        spark = harness.start_spark(work_dir, event_log=True)
        wl.setup(spark)
        tracer = Tracer(spark)
        rows = wl.traced_round(tracer)
        ops, rounds, elapsed = measure(wl, half, 1)
        jobs = tracer.job_counts()
        wl.finish(base_ops + ops)
        errors = wl.check(base_ops + ops)
    finally:
        wl.close()
        harness.shutdown_spark(spark)
    events = read_event_log(os.path.join(work_dir, "eventlog"))
    base = summarize(wl, base_ops, base_rounds, base_el)
    traced = summarize(wl, ops, rounds, elapsed, warm_ops)
    report_line(wl, ops, traced)

    def counts(group):
        ev = events.get(group, {})
        return {"jobs": jobs.get(group, 0), **{
            k: ev.get(k, 0) for k in ("stages", "tasks", "failed_tasks",
                                      "shuffle_write_bytes", "spill_bytes",
                                      "gc_ms")}}

    for g in tracer.groups:
        if jobs.get(g, 0) != events.get(g, {}).get("jobs", 0):
            errors.append(f"{g}: status tracker and event log disagree on "
                          "the job count")
    if not all(r["ok"] for r in rows):
        errors.append("a traced call failed")
    for e in errors:
        print(f"# CHECK FAILED: {e}")

    metrics = layer_metrics(rows, counts)
    for k in ("op_p50_ms", "ops_per_s"):
        metrics[f"trace.overhead.{k}_pct"] = (
            (traced[k] / base[k] - 1) * 100, "%")
    all_ops = base_ops + ops
    return {
        "correct": not errors,
        "attempted": len(all_ops),
        "failed": sum(not op.ok for op in all_ops),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }


def layer_metrics(rows, counts):
    """Per-layer metrics of one traced round. Times are medians over the
    round's calls, counts are totals per round (per batch for writes).
    A layer the workload never calls reads 0."""
    def med_ms(key):
        vals = [r[key] * 1000 for r in rows if key in r]
        return statistics.median(vals) if vals else 0.0

    def total(group_key, what):
        return sum(counts(r[group_key])[what] for r in rows
                   if group_key in r)

    writes = [r for r in rows if "write_group" in r]
    per_write = max(1, len(writes))
    by_depth = {r.get("depth"): r for r in rows}
    m = {
        "influxql.parse_ms": (med_ms("parse_s"), "ms"),
        "planner.build_ms": (med_ms("build_s"), "ms"),
        "planner.build_jobs": (total("build_group", "jobs"), "count"),
        "result.ms": (med_ms("result_s"), "ms"),
        "http_server.overhead_ms": (med_ms("http_overhead_s"), "ms"),
        "lineprotocol.parse_ms": (med_ms("lp_parse_s"), "ms"),
        "write_lines.ms": (med_ms("write_s"), "ms"),
        "cache.persisted_rdds_per_write": (
            sum(r["persisted"] for r in writes) / per_write, "count"),
    }
    for what, unit in (("jobs", "count"), ("stages", "count"),
                       ("tasks", "count"), ("failed_tasks", "count"),
                       ("shuffle_write_bytes", "bytes"),
                       ("spill_bytes", "bytes"), ("gc_ms", "ms")):
        m[f"result.{what}"] = (total("result_group", what), unit)
    for what in ("jobs", "stages", "tasks"):
        m[f"write_lines.{what}"] = (
            total("write_group", what) / per_write, "count")
    for d in (1, 10):
        r = by_depth.get(d)
        c = counts(r["result_group"]) if r else {"jobs": 0, "tasks": 0}
        m[f"ingest.plan_unions.d{d}"] = (r["unions"] if r else 0, "count")
        m[f"result.jobs.d{d}"] = (c["jobs"], "count")
        m[f"result.tasks.d{d}"] = (c["tasks"], "count")
        m[f"result.ms.d{d}"] = (r["result_s"] * 1000 if r else 0.0, "ms")
    return m


def main(argv=None):
    args = parse_args(argv)
    if not harness.repo_present():
        print("perfbench: run from the repo root (influxdb_ha_spark/ not "
              "found)", file=sys.stderr)
        return 2
    import workloads
    cls = workloads.WORKLOADS.get(args.workload)
    if cls is None:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work_dir = harness.make_work_dir()
    try:
        harness.prepare_env(work_dir)
        wl = cls(args.seed, work_dir)
        run = run_traced if args.trace else run_untraced
        result = run(wl, args, work_dir)
    finally:
        harness.remove_work_dir(work_dir)
    harness.emit(result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
