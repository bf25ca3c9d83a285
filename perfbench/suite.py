"""``commit_suite``: the registered ``tx_*``, ``store_*`` and
``events_stream_*`` queries, each checked against its DuckDB oracle.

Run by hand; it is not in BENCHMARK.json because one warm pass takes
over a minute on 4 cores (README.md). Tables come from
``tools/gen_sf.py`` with the run's seed, at sf0.001 for the untimed
warm-up pass and sf0.01 for the timed one. Rows are compared with ``tools/check_correctness``'s ``norm`` and
``close`` outside the timed region; a mismatch or a raise is a failed op.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
import time
import traceback

from tools.check_correctness import TABLES, close, norm

PREFIXES = ("tx_", "store_", "events_stream_")


def query_names() -> list[str]:
    from maillogsentinel_spark.plans.queries import QUERIES

    return [n for n in QUERIES if n.startswith(PREFIXES)]


def make_tables(seed: int, root: str) -> dict[str, str]:
    """sf0.001 and sf0.01 copies of the repository's test tables from
    ``seed``; the directory names carry the scale factor, as the queries
    expect."""
    from tools.gen_sf import gen

    dirs = {}
    for sf in ("0.001", "0.01"):
        dirs[sf] = os.path.join(root, f"sf{sf}")
        with contextlib.redirect_stdout(io.StringIO()):
            gen(float(sf), dirs[sf], seed=seed)
    return dirs


def warm_pass(spark, sf_dir: str) -> None:
    from maillogsentinel_spark.plans.queries import QUERIES

    for name in query_names():
        QUERIES[name](spark, sf_dir).collect()


def timed_pass(spark, sf_dir: str, tag=None) -> tuple[dict, dict]:
    """One ``.collect()`` per query. Returns ({name: seconds},
    {name: (columns, rows)} for the queries that did not raise)."""
    from maillogsentinel_spark.plans.queries import QUERIES

    walls, results = {}, {}
    for name in query_names():
        if tag:
            tag(name)
        t0 = time.perf_counter()
        try:
            df = QUERIES[name](spark, sf_dir)
            rows = [tuple(r) for r in df.collect()]
            results[name] = (df.columns, rows)
        except Exception:
            traceback.print_exc(file=sys.stderr)
        walls[name] = time.perf_counter() - t0
    if tag:
        tag(None)
    return walls, results


def check(sf_dir: str, results: dict) -> dict[str, bool]:
    """Each query's rows against its oracle SQL in DuckDB."""
    import duckdb

    from maillogsentinel_spark.plans.queries import ORACLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    ok = {}
    for name in query_names():
        if name not in results:
            ok[name] = False
            continue
        cols, rows = results[name]
        rel = con.sql(ORACLES[name])
        ocols, orows = list(rel.columns), rel.fetchall()
        ok[name] = (
            sorted(cols) == sorted(ocols)
            and len(rows) == len(orows)
            and all(close(a, b) for a, b in zip(norm(rows, cols), norm(orows, ocols)))
        )
    con.close()
    return ok
