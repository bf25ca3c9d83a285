"""Per-layer numbers for the traced run (``--trace 1``).

All spans come from the benchmark's own code around each call into a
layer; nothing inside the package is instrumented. Sources:

- the Spark event log, turned on through ``get_spark(extra_conf=...)``
  before ``app`` reuses the session: every ``app.run_*`` call runs under
  its own ``setJobGroup`` tag, and a streaming query's micro-batch jobs
  (whose group is the query's ``runId``) are mapped to the tag that was
  open when a Python ``StreamingQueryListener`` saw the query start;
- the listener's ``StreamingQueryProgress.durationMs`` phases;
- the resolver stub's accumulators (calls, wait);
- lazy layers timed as noop-sink prefixes of the pipeline
  (``read_logs`` → ``parse_sasl_lines`` → ``enrich_rdns`` →
  ``enrich_geo``), outside the end-to-end spans;
- two untraced sessions in the same JVM after the traced one stops:
  ``local[N]`` for the tracing overhead and ``local[1]`` for the
  single-core baseline, each timing one warm extract of the backlog.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import shutil
import statistics
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

from . import env, gen, workloads

PHASES = {
    "latest_offset_ms": "latestOffset",
    "query_planning_ms": "queryPlanning",
    "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
}


class _Listener(StreamingQueryListener):
    def __init__(self, tracer: "Tracer"):
        self.tracer = tracer

    def onQueryStarted(self, event):
        self.tracer.run_groups[str(event.runId)] = self.tracer.group

    def onQueryProgress(self, event):
        p = event.progress
        self.tracer.progress[str(p.runId)].append(dict(p.durationMs))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    """Spans, job-group tags and streaming progress of one traced run."""

    def __init__(self, work: str):
        self.log_dir = os.path.join(work, "eventlog")
        os.makedirs(self.log_dir)
        self.group: str | None = None  # tag of the app call in progress
        self.spans: list[dict] = []
        self.run_groups: dict[str, str | None] = {}
        self.progress: dict[str, list[dict]] = defaultdict(list)

    def spark_conf(self) -> dict:
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + self.log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    def attach(self, spark, resolver) -> None:
        self.spark, self.resolver = spark, resolver
        spark.streams.addListener(_Listener(self))

    def tag(self, op: str | None) -> None:
        """Close the open span, then open one for ``op`` (None: none)."""
        sc = self.spark.sparkContext
        now = time.time() * 1000
        calls, wait = ((self.resolver.calls.value, self.resolver.wait.value)
                       if self.resolver else (0, 0.0))
        if self.group is not None:
            span = self.spans[-1]
            span["calls"], span["wait"] = calls - span["calls"], wait - span["wait"]
            span["end"] = now
        if op is None:
            self.group = None
            sc.setLocalProperty("spark.jobGroup.id", None)
            return
        self.group = f"{op}#{len(self.spans)}"
        self.spans.append({"op": op, "group": self.group, "calls": calls, "wait": wait,
                           "start": now})
        sc.setJobGroup(self.group, op)


def _noop_s(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def layer_probes(spark, inp: workloads.Inputs, resolver, paths: list[str]) -> dict:
    """Noop-sink timings of the pipeline's prefixes on ``paths``, with the
    app's rDNS cache settings."""
    from maillogsentinel_spark.operators.enrich import enrich_geo
    from maillogsentinel_spark.operators.parse import parse_sasl_lines
    from maillogsentinel_spark.operators.rdns import enrich_rdns
    from maillogsentinel_spark.plans.pipeline import build_events
    from maillogsentinel_spark.sources.dims import load_geo_asn, load_geo_country
    from maillogsentinel_spark.sources.logs import read_logs

    cfg = workloads.app_config(inp, "")
    rdns_kw = dict(ttl_seconds=cfg["dns_cache_ttl_seconds"], max_cache=cfg["dns_cache_size"])

    def dims():
        return load_geo_country(spark, inp.country), load_geo_asn(spark, inp.asn)

    spark.sparkContext.setJobGroup("probe", "layer probes")
    lines = read_logs(spark, paths)
    parsed = parse_sasl_lines(lines, year=gen.YEAR)
    rdns = enrich_rdns(parsed, resolver, **rdns_kw)
    out = {
        "scan": _noop_s(lines),
        "parse": _noop_s(parsed),
        "rdns": _noop_s(rdns),
        "dims": sum(_noop_s(d) for d in dims()),
        "geo": _noop_s(enrich_geo(rdns, *dims())),
        "batch": _noop_s(build_events(
            read_logs(spark, paths), gen.YEAR, resolver, *dims(),
            rdns_ttl_seconds=rdns_kw["ttl_seconds"], rdns_max_cache=rdns_kw["max_cache"])),
    }
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return out


def report_probe(spark, working_dir: str, day: str) -> tuple[float, float]:
    """(analyze, render) seconds of the report layers on a store."""
    from maillogsentinel_spark.report import daily_report_stats, render_report
    from maillogsentinel_spark.sources.store import read_events

    ev = read_events(spark, os.path.join(working_dir, "store"))
    t0 = time.perf_counter()
    stats = daily_report_stats(ev, day)
    stats = {k: v.collect() if hasattr(v, "collect") else v for k, v in stats.items()}
    t1 = time.perf_counter()
    render_report(stats, day)
    return t1 - t0, time.perf_counter() - t1


def read_event_log(log_dir: str) -> dict:
    """Jobs (group, stages, times), stages (tasks, RDD scopes, task
    metric sums) and files read per SQL execution."""
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    metrics: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    exec_group: dict[int, str] = {}
    file_accs: set[int] = set()
    accum_updates: list[tuple[int, int, int]] = []

    def walk(node):
        for m in node.get("metrics", []):
            if m["name"] == "number of files read":
                file_accs.add(m["accumulatorId"])
        for child in node.get("children", []):
            walk(child)

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "stages": [s["Stage ID"] for s in e["Stage Infos"]],
                    "start": e["Submission Time"],
                }
                if props.get("spark.sql.execution.id"):
                    exec_group[int(props["spark.sql.execution.id"])] = props.get(
                        "spark.jobGroup.id")
            elif ev == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                scopes = set()
                for r in si["RDD Info"]:
                    try:
                        scopes.add(json.loads(r.get("Scope") or "{}").get("name", ""))
                    except ValueError:
                        pass
                stages[si["Stage ID"]] = {"tasks": si["Number of Tasks"], "scopes": scopes}
            elif ev == "SparkListenerTaskEnd" and e.get("Task Metrics"):
                m, s = e["Task Metrics"], metrics[e["Stage ID"]]
                s["run_ms"] += m["Executor Run Time"]
                s["cpu_ns"] += m["Executor CPU Time"]
                s["gc_ms"] += m["JVM GC Time"]
                s["shuffle_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            elif ev.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                walk(e["sparkPlanInfo"])
            elif ev.endswith("SparkListenerDriverAccumUpdates"):
                accum_updates += [(e["executionId"], a, v) for a, v in e["accumUpdates"]]
    files_read: dict[int, int] = defaultdict(int)
    for xid, acc, v in accum_updates:
        if acc in file_accs:
            files_read[xid] += v
    for sid, st in stages.items():
        st.update(metrics[sid])
    return {"jobs": jobs, "stages": stages, "files_read": files_read,
            "exec_group": exec_group}


def _med(values) -> float:
    return float(statistics.median(values))


def per_layer(tracer: Tracer, log: dict, tally: workloads.Tally, inp: workloads.Inputs,
              workload: str, probes: dict, report: tuple[float, float],
              extra: dict) -> dict:
    """The per-layer table, each value a median over the traced cycles."""
    by_group = _jobs_by_group(tracer, log)
    stages = log["stages"]

    def span_stages(span) -> list[dict]:
        ids = {s for j in by_group[span["group"]] for s in j["stages"]}
        return [stages[s] for s in sorted(ids) if s in stages]

    def tasks_where(span, pred) -> tuple[int, int]:
        hit = [st for st in span_stages(span) if any(pred(x) for x in st["scopes"])]
        return len(hit), sum(st["tasks"] for st in hit)

    spans = tracer.spans
    extracts = [s for s in spans if s["op"] == "extract"]
    reports = [s for s in spans if s["op"] == "report"]
    scan = [tasks_where(s, lambda x: x.startswith("Scan text")) for s in extracts]
    resolve = [tasks_where(s, lambda x: x == "MapInPandas")[1] for s in extracts]
    run_ids = {g: r for r, g in tracer.run_groups.items()}
    phase = {k: [sum(p.get(v, 0) for p in tracer.progress.get(run_ids.get(s["group"]), []))
                 for s in extracts] for k, v in PHASES.items()}

    def own_jobs_s(span) -> float:  # jobs run on the driver thread, not the query's
        own = [j for j in by_group[span["group"]] if j["group"] == span["group"]]
        return (max(j["end"] for j in own) - min(j["start"] for j in own)) / 1000 if own else 0.0

    if workload == "bulk_ingest":
        ingested = [inp.backlog] * len(extracts)
    else:
        ingested = [inp.cycles[i % workloads.CRON_BLOCK] for i in range(len(extracts))]
    lookups = [len({ip for _, ip, _ in b.events}) for b in ingested]
    calls = [s["calls"] for s in extracts]
    csv_mirror = [own_jobs_s(s) for s in extracts]
    extract_s = _med(tally.extract_s)
    store_files = tally.store_files
    files_read = [sum(n for x, n in log["files_read"].items()
                      if log["exec_group"].get(x) == s["group"]) for s in reports]
    report_cycle = list(itertools.accumulate(s["op"] == "extract" for s in spans))
    report_cycle = [c - 1 for c, s in zip(report_cycle, spans) if s["op"] == "report"]
    cycle_stages = [st for s in spans for st in span_stages(s)]
    n_cycles = len(extracts)

    def total(key: str) -> float:
        return sum(st.get(key, 0.0) for st in cycle_stages) / n_cycles

    rows = {
        "session.get_spark_s": (extra["get_spark_s"], "s"),
        "session.warmup_s": (extra["warmup_s"], "s"),
        "sources.logs.scan_s": (probes["scan"], "s"),
        "sources.logs.scan_tasks": (_med([t for _, t in scan]), "count"),
        "sources.logs.scan_stages_per_ingest": (_med([n for n, _ in scan]), "count"),
        "operators.parse.self_s": (probes["parse"] - probes["scan"], "s"),
        "operators.parse.match_ratio": (
            _med(tally.new_events) / len(ingested[0].lines), "ratio"),
        "operators.rdns.self_s": (probes["rdns"] - probes["parse"], "s"),
        "operators.rdns.resolve_tasks": (_med(resolve), "count"),
        "operators.rdns.resolver_calls": (_med(calls), "count"),
        "operators.rdns.resolver_wait_s": (_med([s["wait"] for s in extracts]), "s"),
        "operators.rdns.cache_hit_ratio": (
            _med([1 - c / n for c, n in zip(calls, lookups)]), "ratio"),
        "operators.enrich.self_s": (probes["geo"] - probes["rdns"], "s"),
        "operators.range_join.explosion_ratio": (
            inp.exploded_buckets / (2 * workloads.DIM_RANGES), "ratio"),
        "sources.dims.load_s": (probes["dims"], "s"),
        "plans.pipeline.batch_plan_s": (probes["batch"], "s"),
        "streaming.ingest.overhead_s": (
            extract_s - probes["batch"] - _med(csv_mirror), "s"),
        **{f"streaming.ingest.{k}": (_med(v), "ms") for k, v in phase.items()},
        "sources.store.write_s": (
            _med(phase["add_batch_ms"]) / 1000 - probes["batch"], "s"),
        "sources.store.files_written": (_med(tally.new_store_files), "count"),
        "sources.store.csv_mirror_s": (_med(csv_mirror), "s"),
        "sources.store.csv_bytes_per_new_event": (
            _med([b / n for b, n in zip(tally.csv_bytes, tally.new_events)]), "B/event"),
        "app.sql_export_s": (_med(tally.export_s), "s"),
        "sources.sqlio.export_rows_per_s": (
            _med([r / s for r, s in zip(tally.export_rows, tally.export_s)]), "rows/s"),
        "sources.sqlio.quarantined_rows": (_med(tally.quarantined), "count"),
        "app.sql_import_s": (_med(tally.import_s), "s"),
        "report.analyze.stats_s": (report[0], "s"),
        "report.render.render_s": (report[1], "s"),
        "report.jobs": (_med([len(by_group[s["group"]]) for s in reports]), "count"),
        "report.files_read_ratio": (
            _med([f / store_files[c] for f, c in zip(files_read, report_cycle)]), "ratio"),
        "spark.executor_run_s": (total("run_ms") / 1000, "s"),
        "spark.executor_cpu_s": (total("cpu_ns") / 1e9, "s"),
        "spark.gc_s": (total("gc_ms") / 1000, "s"),
        "spark.shuffle_write_bytes": (total("shuffle_bytes"), "B"),
        "spark.tasks": (total("tasks"), "count"),
        "engine.lines_per_s_1core": (
            inp.backlog_lines / extra["extract_1core_s"], "lines/s"),
        "engine.core_scaling": (extra["extract_1core_s"] / extra["extract_untraced_s"], "ratio"),
        "trace.overhead_s": (extra["extract_traced_s"] - extra["extract_untraced_s"], "s"),
    }
    return rows


def _jobs_by_group(tracer: Tracer, log: dict) -> dict:
    """Jobs per span tag; a streaming query's jobs go to the tag that was
    open when it started."""
    by_group: dict[str | None, list[dict]] = defaultdict(list)
    for job in log["jobs"].values():
        g = job["group"]
        by_group[tracer.run_groups.get(g, g)].append(job)
    return by_group


def _covered_ms(jobs: list[dict], start: float, end: float) -> float:
    """Length of [start, end] covered by at least one job."""
    covered, reach = 0.0, start
    for s, e in sorted((max(j["start"], start), min(j["end"], end)) for j in jobs):
        if e > reach:
            covered += e - max(s, reach)
            reach = e
    return covered


def suite_layers(tracer: Tracer, log: dict, walls: dict, extra: dict) -> dict:
    """``plans.queries.*`` per-layer rows of a commit-suite pass."""
    by_group = _jobs_by_group(tracer, log)
    stages = log["stages"]
    gaps = [(s["end"] - s["start"] - _covered_ms(by_group[s["group"]], s["start"], s["end"]))
            / 1000 for s in tracer.spans]
    ids = {sid for s in tracer.spans for j in by_group[s["group"]] for sid in j["stages"]}
    pass_stages = [stages[i] for i in ids if i in stages]

    def total(key: str) -> float:
        return sum(st.get(key, 0.0) for st in pass_stages)

    family = {p: sum(w for n, w in walls.items() if n.startswith(p))
              for p in ("tx_", "store_", "events_stream_")}
    return {
        "session.get_spark_s": (extra["get_spark_s"], "s"),
        "session.warmup_s": (extra["warmup_s"], "s"),
        "plans.queries.tx_s": (family["tx_"], "s"),
        "plans.queries.store_s": (family["store_"], "s"),
        "plans.queries.stream_s": (family["events_stream_"], "s"),
        "plans.queries.jobs_per_query": (
            _med([len(by_group[s["group"]]) for s in tracer.spans]), "count"),
        "plans.queries.driver_gap_s": (sum(gaps), "s"),
        "plans.queries.max_driver_gap_s": (max(gaps), "s"),
        "spark.executor_run_s": (total("run_ms") / 1000, "s"),
        "spark.executor_cpu_s": (total("cpu_ns") / 1e9, "s"),
        "spark.gc_s": (total("gc_ms") / 1000, "s"),
        "spark.shuffle_write_bytes": (total("shuffle_bytes"), "B"),
        "spark.tasks": (total("tasks"), "count"),
    }


def untraced_extract_s(inp: workloads.Inputs, work: str, cpus: int) -> float:
    """A fresh untraced session on ``cpus`` cores in the same JVM: a
    warm-up extract, then one timed extract of the backlog."""
    prev = os.environ.get("SPARK_GRAFT_CPUS")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    try:
        spark = env.start_spark({"spark.eventLog.enabled": "false"})
    finally:
        if prev is None:
            del os.environ["SPARK_GRAFT_CPUS"]
        else:
            os.environ["SPARK_GRAFT_CPUS"] = prev
    resolver = gen.StubResolver(workloads.RESOLVER_DELAY_S)
    base = os.path.join(work, f"untraced{cpus}")
    backlog = os.path.join(base, "logs")
    os.makedirs(backlog)
    for name in ("mail.log", "mail.log.1", "mail.log.2.gz"):
        shutil.copy(os.path.join(inp.logs, name), backlog)
    try:
        workloads.extract_backlog(inp, resolver, os.path.join(base, "warm"),
                                  os.path.join(inp.root, "warm_logs"), check=False)
        return workloads.extract_backlog(inp, resolver, os.path.join(base, "wd"), backlog)
    finally:
        spark.stop()
        shutil.rmtree(base, ignore_errors=True)
