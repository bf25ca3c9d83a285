"""Production-path benchmark for maillogsentinel_spark.

    python3 perfbench/run.py --workload bulk_ingest --seed 1 --seconds 20 --trace 0

Run from the repository root. The run generates its inputs from
``--seed`` under ``.perfbench_work/`` (removed on exit), starts Spark on
``local[$SPARK_GRAFT_CPUS or nproc]``, measures the workload for about
``--seconds`` of timed calls, checks every output against the
generator's ground truth and prints, as its last stdout line,

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics for ``--trace 0`` and the per-layer metrics
for ``--trace 1`` (see README.md). The lines before it are a readable
table of the same numbers plus the ones the JSON leaves out.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import env, workloads  # noqa: E402
from perfbench.gen import StubResolver  # noqa: E402

def run(args) -> dict:
    work = os.path.join(env.ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        if args.workload == "commit_suite":
            out = _run_suite(args, work)
        else:
            out = _run_production(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    print(f"# {args.workload} seed={args.seed} trace={args.trace} {out['header']}")
    for (name, ok), n in sorted(out["checks"].items()):
        print(f"# check {name:<30} {'ok  ' if ok else 'FAIL'} x{n}")
    for name, (v, unit) in {**out["table"], **out["layers"]}.items():
        print(f"{name:<40} {v:>16.4f} {unit}")
    metrics = out["layers"] if args.trace else out["e2e"]
    return {
        "correct": out["failed_timed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _start(args, work: str):
    """Session for the run: (spark, tracer or None, get_spark seconds)."""
    env.prepare_env(work)
    tracer = None
    if args.trace:
        from perfbench import trace

        tracer = trace.Tracer(work)
    t0 = time.perf_counter()
    spark = env.start_spark(tracer.spark_conf() if tracer else None)
    return spark, tracer, time.perf_counter() - t0


def _run_production(args, work: str) -> dict:
    t0 = time.perf_counter()
    inp = workloads.make_inputs(args.workload, args.seed, os.path.join(work, "in"))
    gen_s = time.perf_counter() - t0
    spark, tracer, get_spark_s = _start(args, work)
    sc = spark.sparkContext
    resolver = StubResolver(workloads.RESOLVER_DELAY_S,
                            sc.accumulator(0), sc.accumulator(0.0))
    if tracer:
        tracer.attach(spark, resolver)
    run_dir = os.path.join(work, "run")
    layers = {}
    try:
        t0 = time.perf_counter()
        workloads.warm_up(inp, resolver, run_dir)
        warmup_s = time.perf_counter() - t0
        setup_s = env.process_age_s() - gen_s
        # the traced run measures one cycle (one block on cron_cycle);
        # its length is set by the layer probes after it
        seconds = 0 if tracer else args.seconds
        t0 = time.perf_counter()
        if args.workload == "bulk_ingest":
            tally = workloads.bulk_ingest(inp, resolver, run_dir, seconds,
                                          tracer and tracer.tag)
        else:
            snap, seed_s = workloads.seed_history(inp, resolver, run_dir)
            t0 = time.perf_counter()
            tally = workloads.cron_cycle(inp, resolver, run_dir, seconds, snap,
                                         tracer and tracer.tag)
        measured_s = time.perf_counter() - t0
        rss = env.peak_rss_mb(spark)
        if tracer:
            from maillogsentinel_spark.session import cpu_count

            from perfbench import trace

            paths = ([os.path.join(inp.logs, n) for n in ("mail.log.2.gz", "mail.log.1", "mail.log")]
                     if args.workload == "bulk_ingest"
                     else [os.path.join(inp.logs, "mail.log-cycle0")])
            probes = trace.layer_probes(spark, inp, resolver, paths)
            report = trace.report_probe(spark, tally.last_working_dir, tally.last_day)
            spark.stop()
            extra = {
                "get_spark_s": get_spark_s,
                "warmup_s": warmup_s,
                "extract_traced_s": (statistics.median(tally.extract_s)
                                     if args.workload == "bulk_ingest" else seed_s),
                "extract_untraced_s": trace.untraced_extract_s(inp, work, cpu_count()),
                "extract_1core_s": trace.untraced_extract_s(inp, work, 1),
            }
            layers = trace.per_layer(tracer, trace.read_event_log(tracer.log_dir), tally,
                                     inp, args.workload, probes, report, extra)
    finally:
        env.stop_jvm(spark)

    lines = (inp.backlog_lines if args.workload == "bulk_ingest"
             else len(inp.cycles[0].lines))
    cycles = [a + b for a, b in zip(tally.extract_s, tally.export_s)]
    e2e = {
        "setup_s": (setup_s, "s"),
        "ingest_lines_per_s": (lines / statistics.median(tally.extract_s), "lines/s"),
        "cycle_p50_s": (statistics.median(cycles), "s"),
        "report_p50_s": (statistics.median(tally.report_s), "s"),
    }
    tail = tail_percentile(cycles)
    table = {
        **e2e,
        "peak_rss_mb": (rss, "MB"),
        "failed_ops_ratio": (tally.failed / tally.attempted, "ratio"),
        "cycle_tail_s": (tail[1], f"s (p{tail[0]:g})") if tail else
        (math.nan, f"s (n/a: {len(cycles)} cycles, needs 11)"),
    }
    return {
        "header": f"cycles={len(cycles)} measured={measured_s:.1f}s inputs={gen_s:.1f}s",
        "checks": tally.checks, "e2e": e2e, "table": table, "layers": layers,
        "attempted": tally.attempted, "failed": tally.failed,
        "failed_timed": tally.failed_timed,
    }


def _run_suite(args, work: str) -> dict:
    from perfbench import suite

    t0 = time.perf_counter()
    dirs = suite.make_tables(args.seed, os.path.join(work, "tables"))
    gen_s = time.perf_counter() - t0
    spark, tracer, get_spark_s = _start(args, work)
    layers = {}
    try:
        if tracer:
            tracer.attach(spark, None)
        t0 = time.perf_counter()
        suite.warm_pass(spark, dirs["0.001"])
        warmup_s = time.perf_counter() - t0
        setup_s = env.process_age_s() - gen_s
        t0 = time.perf_counter()
        walls, results = suite.timed_pass(spark, dirs["0.01"], tracer and tracer.tag)
        suite_s = time.perf_counter() - t0
        rss = env.peak_rss_mb(spark)
    finally:
        env.stop_jvm(spark)
    ok = suite.check(dirs["0.01"], results)
    if tracer:
        from perfbench import trace

        layers = trace.suite_layers(tracer, trace.read_event_log(tracer.log_dir), walls,
                                    {"get_spark_s": get_spark_s, "warmup_s": warmup_s})
    e2e = {"setup_s": (setup_s, "s"), "suite_s": (suite_s, "s")}
    failed = sum(not v for v in ok.values())
    table = {**e2e, "peak_rss_mb": (rss, "MB"), "failed_ops_ratio": (failed / len(ok), "ratio")}
    return {
        "header": f"queries={len(ok)} inputs={gen_s:.1f}s",
        "checks": Counter((f"oracle {name}", v) for name, v in ok.items()),
        "e2e": e2e, "table": table, "layers": layers,
        "attempted": len(ok), "failed": failed, "failed_timed": failed,
    }


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """The highest percentile that has at least 10 samples beyond it, as
    (percentile, value); None with 10 samples or fewer."""
    n = len(values)
    if n <= 10:
        return None
    k = n - 11  # 0-based order statistic with exactly 10 samples above it
    return 100.0 * (k + 1) / n, sorted(values)[k]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(workloads.SIZES) + ["commit_suite"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    print(json.dumps(run(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
