"""The two production-path workloads and the checks on their outputs.

Both drive the program only through ``app.run_*``, in the order a cron
invocation of ``app.py`` runs its modes: one *cycle* is ``run_extract``
→ ``run_sql_export`` → ``run_sql_import`` → ``run_report(day)``. The
workloads differ only in their inputs:

- ``bulk_ingest``: one cycle on a fresh working dir over a 30-day
  backlog (``mail.log``, ``mail.log.1``, ``mail.log.2.gz``), repeated;
- ``cron_cycle``: a seeded history, then cycles that each add one new
  rotated file of recurring IPs; every ``CRON_BLOCK`` cycles the working
  dir is restored to the seeded history, so a faster program runs more
  cycles without growing the store it is measured on.

Every output is compared with ``gen.Truth`` outside the timed region.
"""

from __future__ import annotations

import contextlib
import csv
import glob
import io
import os
import shutil
import sqlite3
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

from . import gen

# (backlog lines, lines per cycle file): the backlog is bulk_ingest's
# input and cron_cycle's seeded history. Sizes keep one run, set-up
# included, near a minute on 4 cores; README.md relates them to production.
SIZES = {"bulk_ingest": (150_000, 0), "cron_cycle": (60_000, 20_000)}
IPS = 4_000
DIM_RANGES = 300_000
USERS = 2_000
DAYS = 30
CRON_BLOCK = 2
RESOLVER_DELAY_S = 0.0005
WARM_LINES = 2_000
# bulk_ingest reports on the backlog's last days, as the report timer
# would after a catch-up; several reports per cycle steady report_p50_s
BULK_REPORTS = 3


@dataclass
class Inputs:
    """Files on disk plus the truth they imply."""

    root: str
    logs: str
    country: str
    asn: str
    pool: gen.IpPool
    backlog: gen.LogBatch | None = None  # bulk_ingest input / cron history
    cycles: list[gen.LogBatch] = field(default_factory=list)
    warm: gen.LogBatch | None = None
    exploded_buckets: int = 0

    @property
    def backlog_lines(self) -> int:
        return len(self.backlog.lines)


def _write_backlog(logs: str, lines: list[str]) -> None:
    k = len(lines) // 3
    gen.write_log(os.path.join(logs, "mail.log.2.gz"), lines[:k])
    gen.write_log(os.path.join(logs, "mail.log.1"), lines[k : 2 * k])
    gen.write_log(os.path.join(logs, "mail.log"), lines[2 * k :])


def make_inputs(workload: str, seed: int, root: str) -> Inputs:
    backlog_lines, cycle_lines = SIZES[workload]
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    dims = gen.make_dims(rng, DIM_RANGES)
    pool = gen.IpPool(rng, IPS, dims)
    country, asn = gen.write_dims(dims, os.path.join(root, "dims"))
    inp = Inputs(root, os.path.join(root, "logs"), country, asn, pool,
                 exploded_buckets=dims.exploded_buckets)
    os.makedirs(inp.logs)
    inp.backlog = gen.make_lines(rng, pool, backlog_lines, 0, DAYS, USERS)
    _write_backlog(inp.logs, inp.backlog.lines)
    # cycle files stay outside the log dir until their cycle adds them
    inp.cycles = [
        gen.make_lines(rng, pool, cycle_lines, DAYS + i, 1, USERS)
        for i in range(CRON_BLOCK if cycle_lines else 0)
    ]
    inp.warm = gen.make_lines(rng, pool, WARM_LINES, 0, 2, USERS)
    warm_logs = os.path.join(root, "warm_logs")
    os.makedirs(warm_logs)
    gen.write_log(os.path.join(warm_logs, "mail.log"), inp.warm.lines)
    return inp


def app_config(inp: Inputs, working_dir: str, logs: str | None = None) -> dict:
    """The app's defaults (``dns_cache_size=128`` included), pointed at
    the generated files."""
    from maillogsentinel_spark import app

    cfg = app.load_config(None)
    cfg.update(
        working_dir=working_dir,
        mail_log=os.path.join(logs or inp.logs, "mail.log"),
        country_db_path=inp.country,
        asn_db_path=inp.asn,
    )
    return cfg


def _date_key(day: str) -> str:
    """``dd/MM/yyyy`` → sortable ``yyyyMMdd``."""
    return day[6:] + day[3:5] + day[:2]


# ---------------------------------------------------------------- checks


def _store_rows(working_dir: str) -> Counter:
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    t = ds.dataset(os.path.join(working_dir, "store"), format="parquet",
                   partitioning="hive").to_table()
    cols = [t.column(c).to_pylist() for c in
            ("server", "ip", "user", "hostname", "reverse_dns_status",
             "country_code", "asn", "aso")]
    dates = pc.strftime(t.column("ts"), format="%d/%m/%Y %H:%M").to_pylist()
    return Counter((c[0], d, *c[1:]) for d, *c in zip(dates, *cols))


def _csv_rows(working_dir: str) -> Counter:
    rows: Counter = Counter()
    for path in glob.glob(os.path.join(working_dir, "maillogsentinel.csv.d", "*.csv")):
        with open(path, newline="", encoding="utf-8") as f:
            r = csv.reader(f, delimiter=";")
            next(r, None)
            rows.update(tuple(row) for row in r)
    return rows


def _nullish(v: str):
    return None if v.strip().lower() in ("", "null", "na", "n/a") else v


def _sql_row(row: tuple) -> tuple:
    """A truth row as the SQLite table must hold it: the mapping turns
    null-ish strings into NULL, types asn as an integer and writes
    DATETIME as ``YYYY-MM-DD HH:MM:SS``."""
    server, date_s, ip, user, host, status, cc, asn, aso = row
    d, hm = date_s.split(" ")
    dd, mm, yyyy = d.split("/")
    asn_v = _nullish(asn)
    return (server, f"{yyyy}-{mm}-{dd} {hm}:00", ip, user, _nullish(host),
            status, _nullish(cc), int(asn_v) if asn_v else None, _nullish(aso))


def _sqlite_rows(working_dir: str) -> Counter:
    con = sqlite3.connect(os.path.join(working_dir, "maillogsentinel.sqlite"))
    try:
        return Counter(con.execute(
            "SELECT server, event_time, ip, username, hostname, "
            "reverse_dns_status, country_code, asn, aso FROM maillogsentinel_events"
        ).fetchall())
    finally:
        con.close()


def _top(counter: Counter, k: int | None = 10) -> list[tuple[str, int]]:
    items = sorted(counter.items(), key=lambda kv: (-kv[1], kv[0]))
    return items[:k] if k else items


def _section(text: str, title: str) -> list[tuple[str, int]]:
    lines = text.splitlines()
    i = lines.index(title) + 2  # skip the column header line
    out = []
    while i < len(lines) and lines[i].startswith("  ") and lines[i].strip() != "(none)":
        *key, n = lines[i].split()
        out.append((" ".join(key), int(n)))
        i += 1
    return out


def _scalar(text: str, label: str) -> int:
    for line in text.splitlines():
        if line.startswith(label):
            return int(line[len(label):])
    raise ValueError(f"report has no line {label!r}")


def expected_report(truth: gen.Truth, day: str) -> dict:
    rows = truth.day_rows(day)

    def by(i: int) -> Counter:
        c: Counter = Counter()
        for r, n in rows:
            c[r[i]] += n
        return c

    fails = by(5)
    fails.pop("OK", None)
    return {
        "today": sum(n for _, n in rows),
        "total": truth.total(),
        "rdns_failures": sum(fails.values()),
        "Top 10 usernames:": _top(by(3)),
        "Top 10 countries:": _top(by(6)),
        "Top 10 ASN:": _top(by(7)),
        "Top 10 ASO:": _top(by(8)),
        "Breakdown:": _top(fails, None),
    }


def report_matches(text: str, want: dict) -> bool:
    got = {
        "today": _scalar(text, "Total authentication failures today: "),
        "total": _scalar(text, "Total events in store: "),
        "rdns_failures": _scalar(text, "Reverse DNS failures today: "),
    }
    got.update({k: _section(text, k) for k in want if k.endswith(":")})
    return got == want


# ---------------------------------------------------------------- cycle


@dataclass
class Tally:
    """Op counts and timings of one run."""

    attempted: int = 0
    failed: int = 0
    failed_timed: int = 0
    extract_s: list[float] = field(default_factory=list)
    export_s: list[float] = field(default_factory=list)
    import_s: list[float] = field(default_factory=list)
    report_s: list[float] = field(default_factory=list)
    checks: Counter = field(default_factory=Counter)  # (check, ok) -> n
    # per cycle, for the traced run's store and SQL layers
    new_events: list[int] = field(default_factory=list)
    store_files: list[int] = field(default_factory=list)
    new_store_files: list[int] = field(default_factory=list)
    csv_bytes: list[int] = field(default_factory=list)
    export_rows: list[int] = field(default_factory=list)
    quarantined: list[int] = field(default_factory=list)
    last_working_dir: str = ""
    last_day: str = ""

    def op(self, name: str, timed: bool, fn, check) -> float:
        """Run one app call and return its seconds; a raise or a failed
        check is a failed op."""
        self.attempted += 1
        out = io.StringIO()
        t0 = time.perf_counter()
        try:
            with contextlib.redirect_stdout(out):
                fn()
            wall = time.perf_counter() - t0
            ok = bool(check(out.getvalue()))
        except Exception:
            wall = time.perf_counter() - t0
            traceback.print_exc(file=sys.stderr)
            ok = False
        self.checks[(name, ok)] += 1
        if not ok:
            self.failed += 1
            self.failed_timed += timed
        return wall


def run_cycle(tally: Tally, cfg: dict, resolver, truth: gen.Truth, batch: gen.LogBatch,
              tag=None, reports: int = 1) -> None:
    """extract → export → import → a report for each of the ``reports``
    latest days of ``batch``, each call checked against ``truth``, which
    must already hold every event of the log dir, ``batch`` (the files
    new to this cycle) included. ``tag(name)`` labels the Spark jobs of
    each call when tracing."""
    from maillogsentinel_spark import app

    wd = cfg["working_dir"]
    days = sorted(batch.day_counts, key=_date_key)[-reports:]
    tag = tag or (lambda name: None)
    files_before = len(_files(wd, "store", "*.parquet"))
    tag("extract")
    tally.extract_s.append(tally.op(
        "extract", True, lambda: app.run_extract(cfg, gen.YEAR, resolver=resolver),
        lambda _: _store_rows(wd) == truth.rows and _csv_rows(wd) == truth.rows,
    ))
    files = _files(wd, "store", "*.parquet")
    tally.store_files.append(len(files))
    tally.new_store_files.append(len(files) - files_before)
    tally.csv_bytes.append(sum(os.path.getsize(f) for f in
                               _files(wd, "maillogsentinel.csv.d", "*.csv")))
    tally.new_events.append(sum(batch.day_counts.values()))
    tally.export_rows.append(truth.total())
    tally.last_working_dir, tally.last_day = wd, days[-1]

    def export_ok(out: str) -> bool:
        tally.quarantined.append(truth.total() - _count_inserts(out.strip().splitlines()[-1]))
        return tally.quarantined[-1] == 0

    tag("sql_export")
    tally.export_s.append(tally.op("sql_export", True, lambda: app.run_sql_export(cfg),
                                   export_ok))
    want_sql = Counter({_sql_row(r): n for r, n in truth.rows.items()})
    tag("sql_import")
    tally.import_s.append(tally.op(
        "sql_import", False, lambda: app.run_sql_import(cfg),
        lambda _: _sqlite_rows(wd) == want_sql,
    ))
    for day in days:
        want = expected_report(truth, day)
        tag("report")
        tally.report_s.append(tally.op(
            "report", True, lambda: app.run_report(cfg, day),
            lambda out: report_matches(out, want),
        ))
    tag(None)


def _files(working_dir: str, sub: str, pattern: str) -> list[str]:
    return glob.glob(os.path.join(working_dir, sub, "**", pattern), recursive=True)


def _count_inserts(path: str) -> int:
    with open(path, encoding="utf-8") as f:
        return sum(1 for line in f if line.startswith("INSERT INTO "))


# ---------------------------------------------------------------- workloads


def warm_up(inp: Inputs, resolver, work: str) -> None:
    """One small checked cycle, so that JIT, codegen and the Python
    workers are warm before anything is timed."""
    truth = gen.Truth(inp.pool)
    truth.add(inp.warm)
    cfg = app_config(inp, os.path.join(work, "warm"), os.path.join(inp.root, "warm_logs"))
    tally = Tally()
    run_cycle(tally, cfg, resolver, truth, inp.warm)
    shutil.rmtree(cfg["working_dir"])
    if tally.failed:
        raise RuntimeError(f"warm-up cycle failed its checks: {dict(tally.checks)}")


def bulk_ingest(inp: Inputs, resolver, work: str, seconds: float, tag=None) -> Tally:
    truth = gen.Truth(inp.pool)
    truth.add(inp.backlog)
    tally = Tally()
    i = 0
    while i == 0 or sum(tally.extract_s) + sum(tally.export_s) < seconds:
        if i:
            shutil.rmtree(tally.last_working_dir)
        run_cycle(tally, app_config(inp, os.path.join(work, f"bulk{i}")),
                  resolver, truth, inp.backlog, tag, BULK_REPORTS)
        i += 1
    return tally


def extract_backlog(inp: Inputs, resolver, working_dir: str, logs: str,
                    check: bool = True) -> float:
    """One ``run_extract`` of the log files in ``logs`` into a fresh
    working dir; returns its seconds. With ``check`` the store must hold
    exactly the backlog's events."""
    from maillogsentinel_spark import app

    cfg = app_config(inp, working_dir, logs)
    t0 = time.perf_counter()
    with contextlib.redirect_stdout(io.StringIO()):
        app.run_extract(cfg, gen.YEAR, resolver=resolver)
    wall = time.perf_counter() - t0
    truth = gen.Truth(inp.pool)
    truth.add(inp.backlog)
    if check and _store_rows(working_dir) != truth.rows:
        raise RuntimeError("backlog extract: store does not match its ground truth")
    return wall


def seed_history(inp: Inputs, resolver, work: str) -> tuple[str, float]:
    """Ingest the history once (untimed) and snapshot the working dir.
    Returns the snapshot path and the extract's seconds."""
    wd = os.path.join(work, "cron")
    wall = extract_backlog(inp, resolver, wd, inp.logs)
    snap = os.path.join(work, "cron_snapshot")
    shutil.copytree(wd, snap)
    return snap, wall


def cron_cycle(inp: Inputs, resolver, work: str, seconds: float, snap: str,
               tag=None) -> Tally:
    wd = os.path.join(work, "cron")
    tally = Tally()
    n = 0
    # whole blocks only, so every run measures each cycle position alike
    while n == 0 or n % CRON_BLOCK or sum(tally.extract_s) + sum(tally.export_s) < seconds:
        pos = n % CRON_BLOCK
        if pos == 0:
            truth = gen.Truth(inp.pool)
            truth.add(inp.backlog)
            if n:
                shutil.rmtree(wd)
                shutil.copytree(snap, wd)
                for j in range(CRON_BLOCK):
                    os.remove(os.path.join(inp.logs, f"mail.log-cycle{j}"))
        batch = inp.cycles[pos]
        gen.write_log(os.path.join(inp.logs, f"mail.log-cycle{pos}"), batch.lines)
        truth.add(batch)
        run_cycle(tally, app_config(inp, wd), resolver, truth, batch, tag)
        n += 1
    return tally
