"""Store maintenance: partition-scoped upsert (MERGE), small-file
compaction and Z-order over the day-partitioned events store, all
through the transactional ``tx_*`` operations (sources/txstore.py) —
the store's only rewrite path.

The contract under test is the 100 TB one: only TOUCHED day partitions
are rewritten — untouched days keep the same physical files — and the
merged data always round-trips exactly. These are the edge-case inputs
(empty batches, keys moving across days, map columns, day splits);
the commit protocol itself (crash injection, concurrency, vacuum) is
pinned in test_txstore.py.
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import Row, functions as F

from maillogsentinel_spark.sources import txstore
from maillogsentinel_spark.sources.txstore import (
    tx_append_events,
    tx_compact_partitions,
    tx_current_version,
    tx_optimize_zorder,
    tx_read_events,
    tx_upsert_events,
    tx_write_events,
)


def _ev(eid, day, user, val):
    return Row(
        event_id=eid,
        ts=datetime.datetime(2025, 3, day, 10, 0),
        user_id=user,
        event_type="click",
        value=float(val),
    )


def _store(spark, tmp_path):
    path = str(tmp_path / "store")
    base = spark.createDataFrame(
        [_ev(1, 1, 10, 1.0), _ev(2, 1, 11, 2.0), _ev(3, 2, 10, 3.0),
         _ev(4, 3, 12, 4.0)]
    )
    tx_write_events(spark, path, base)
    return path


def _files_for_day(spark, path, day):
    """Absolute data files the live manifest lists for 2025-03-<day>."""
    rels = txstore._load_manifest(spark, path)["files"].get(f"2025-03-0{day}", [])
    return sorted(os.path.join(path, "data", r) for r in rels)


def _stamped(files):
    return [(f, os.path.getmtime(f), os.path.getsize(f)) for f in files]


def _id_values(spark, path):
    return {(r["event_id"], r["value"]) for r in tx_read_events(spark, path).collect()}


def _fragmented(spark, path, day_rows):
    """One commit per row: the file-per-micro-batch shape compaction
    exists to undo."""
    tx_write_events(spark, path, spark.createDataFrame(day_rows[:1]))
    for r in day_rows[1:]:
        tx_append_events(spark, path, spark.createDataFrame([r]))


def test_upsert_rewrites_only_touched_days(spark, tmp_path):
    path = _store(spark, tmp_path)
    day3_before = _stamped(_files_for_day(spark, path, 3))
    day1_before = _files_for_day(spark, path, 1)
    assert day3_before

    # update event 2 (day 1) and insert event 5 (new, day 2)
    updates = spark.createDataFrame([_ev(2, 1, 11, 20.0), _ev(5, 2, 13, 5.0)])
    assert tx_upsert_events(spark, path, updates) == 2  # committed version

    assert _id_values(spark, path) == {
        (1, 1.0), (2, 20.0), (3, 3.0), (4, 4.0), (5, 5.0)
    }
    assert _files_for_day(spark, path, 1) != day1_before  # rewritten
    # day 3 untouched: same files, same mtimes, same sizes
    assert _stamped(_files_for_day(spark, path, 3)) == day3_before


def test_upsert_empty_batch_is_noop(spark, tmp_path):
    path = _store(spark, tmp_path)
    empty = spark.createDataFrame([], tx_read_events(spark, path).schema)
    assert tx_upsert_events(spark, path, empty) == 1  # nothing committed
    assert tx_current_version(spark, path) == 1
    assert tx_read_events(spark, path).count() == 4


def test_compaction_reduces_files_and_preserves_rows(spark, tmp_path):
    path = str(tmp_path / "store")
    _fragmented(spark, path, [_ev(100 + i, 1, 10, float(i)) for i in range(5)]
                + [_ev(200, 2, 11, 9.0)])
    assert len(_files_for_day(spark, path, 1)) >= 5
    before = _id_values(spark, path)

    tx_compact_partitions(spark, path, target_files_per_day=1)
    assert len(_files_for_day(spark, path, 1)) == 1
    assert _id_values(spark, path) == before


def test_compaction_predicate_scopes_rewrite(spark, tmp_path):
    path = str(tmp_path / "store")
    _fragmented(spark, path, [_ev(300 + i, 1, 10, float(i)) for i in range(3)]
                + [_ev(400, 2, 11, 9.0)])
    day2_before = _stamped(_files_for_day(spark, path, 2))

    tx_compact_partitions(
        spark, path, 1, predicate="event_date = DATE '2025-03-01'"
    )
    assert len(_files_for_day(spark, path, 1)) == 1
    assert _stamped(_files_for_day(spark, path, 2)) == day2_before


def test_upsert_dedupes_duplicate_update_keys(spark, tmp_path):
    """MERGE contract: at most one source row per target key. A batch
    carrying the same key twice must collapse to the max-ts winner,
    never insert N rows for the key."""
    path = _store(spark, tmp_path)
    loser = _ev(2, 1, 11, 50.0)
    winner = Row(
        event_id=2,
        ts=datetime.datetime(2025, 3, 1, 12, 0),  # later same day
        user_id=11,
        event_type="click",
        value=99.0,
    )
    tx_upsert_events(spark, path, spark.createDataFrame([loser, winner]))

    snap = tx_read_events(spark, path)
    rows = snap.where("event_id = 2").collect()
    assert len(rows) == 1
    assert rows[0]["value"] == 99.0
    assert snap.count() == 4  # 1,2,3,4 — no dup rows


def test_upsert_dup_key_spanning_days(spark, tmp_path):
    """Duplicate update rows for one key landing on DIFFERENT days: the
    winner is the max-ts row, and the target's old row must still be
    removed even though it lives on the losing row's day (the touched-
    day list is derived from the pre-dedupe batch)."""
    path = _store(spark, tmp_path)
    loser = _ev(3, 2, 10, 50.0)  # key 3's old row lives on day 2
    winner = _ev(3, 4, 10, 77.0)  # winner moves the event to day 4
    tx_upsert_events(spark, path, spark.createDataFrame([loser, winner]))

    snap = tx_read_events(spark, path)
    rows = snap.where("event_id = 3").collect()
    assert len(rows) == 1
    assert rows[0]["value"] == 77.0
    assert str(rows[0]["event_date"]) == "2025-03-04"
    assert snap.count() == 4
    assert _files_for_day(spark, path, 2) == []  # emptied day dropped


def test_compaction_nonpartition_predicate_is_layout_only(spark, tmp_path):
    """A predicate on a NON-partition column selects which days get
    compacted but must never delete the non-matching rows of those
    days."""
    path = str(tmp_path / "store")
    _fragmented(spark, path, [_ev(500 + i, 1, 10, float(i)) for i in range(4)]
                + [_ev(600, 2, 11, 0.5)])
    before = _id_values(spark, path)
    day2_before = _stamped(_files_for_day(spark, path, 2))

    # matches only value>2 rows, all on day 1 → compact day 1 ONLY,
    # but day 1 keeps ALL its rows (values 0..3)
    tx_compact_partitions(spark, path, 1, predicate="value > 2.0")
    assert len(_files_for_day(spark, path, 1)) == 1
    assert _id_values(spark, path) == before
    assert _stamped(_files_for_day(spark, path, 2)) == day2_before


def test_zordered_write_tightens_rowgroup_stats(spark, tmp_path):
    """Row-group-level evidence via pyarrow: after OPTIMIZE ZORDER the
    parquet row groups carry tight user_id min/max boxes, while the
    arrival-order write's row groups each span ~the whole user domain
    (user_id cycles 0..63 through every row group). Tight boxes are
    what predicate pushdown prunes on. A small parquet block size puts
    ~100 rows in each row group."""
    import pyarrow.parquet as pq

    def rowgroup_spans(files):
        spans = []
        for f in files:
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for c in range(g.num_columns):
                    col = g.column(c)
                    if col.path_in_schema == "user_id" and col.statistics:
                        spans.append(col.statistics.max - col.statistics.min)
        return spans

    path = str(tmp_path / "store")
    df = spark.createDataFrame(
        [_ev(i, 1, i % 64, float(i)) for i in range(4096)]
    ).coalesce(1)
    spark.conf.set("parquet.block.size", "4096")
    try:
        tx_write_events(spark, path, df)
        arrival = rowgroup_spans(_files_for_day(spark, path, 1))
        before = _id_values(spark, path)
        tx_optimize_zorder(spark, path, dims=("user_id", "ts"))
        zs = rowgroup_spans(_files_for_day(spark, path, 1))
    finally:
        spark.conf.unset("parquet.block.size")
    assert len(arrival) > 1 and len(zs) > 1
    assert _id_values(spark, path) == before  # layout-only
    assert sum(zs) / len(zs) < (sum(arrival) / len(arrival)) / 10


def test_compaction_can_split_a_day(spark, tmp_path):
    """target_files_per_day > 1 must be able to SPLIT a day — hashing
    on the day column alone never could (regression for the salt)."""
    path = str(tmp_path / "store")
    tx_write_events(
        spark, path,
        spark.createDataFrame([_ev(i, 1, i % 8, float(i)) for i in range(512)]),
    )
    tx_compact_partitions(spark, path, target_files_per_day=4)
    assert 2 <= len(_files_for_day(spark, path, 1)) <= 4
    assert tx_read_events(spark, path).count() == 512


def _map_ev(eid, day, props):
    return Row(
        event_id=eid,
        ts=datetime.datetime(2025, 3, day, 10, 0),
        tags=[{"k": str(props)}],  # array<map<string,string>> — nested map
    )


def test_upsert_tolerates_nested_map_columns(spark, tmp_path):
    """Nested maps (array<map>) are as unorderable as top-level maps —
    the dedupe tie-break must skip them instead of throwing at analysis
    time."""
    path = str(tmp_path / "store")
    tx_write_events(
        spark, path,
        spark.createDataFrame([_map_ev(1, 1, "a"), _map_ev(2, 2, "b")]),
    )
    # duplicate key in the batch exercises the tie-break window
    tx_upsert_events(
        spark,
        path,
        spark.createDataFrame([_map_ev(1, 1, "x"), _map_ev(1, 1, "y")]),
    )
    rows = tx_read_events(spark, path).orderBy("event_id").collect()
    assert [r.event_id for r in rows] == [1, 2]
    assert rows[0].tags[0]["k"] in ("x", "y")


def test_compaction_tolerates_map_only_schema(spark, tmp_path):
    """A store with a map column and no event_id must still compact:
    xxhash64 rejects MapType, so the salt must skip map columns (and
    fall back to a row-id salt when nothing hashable remains)."""
    path = str(tmp_path / "store")
    df = spark.createDataFrame(
        [
            Row(
                ts=datetime.datetime(2025, 3, 1, 10, i % 60),
                props={"i": str(i)},
            )
            for i in range(64)
        ]
    )
    chunks = [df.where(F.minute("ts") % 4 == c) for c in range(4)]
    tx_write_events(spark, path, chunks[0])
    for chunk in chunks[1:]:  # several small files to compact
        tx_append_events(spark, path, chunk)
    assert len(_files_for_day(spark, path, 1)) >= 4
    tx_compact_partitions(spark, path, target_files_per_day=1)
    assert len(_files_for_day(spark, path, 1)) == 1
    assert tx_read_events(spark, path).count() == 64
