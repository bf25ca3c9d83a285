"""Transactional store (sources/txstore.py): the manifest-swap commit
must make every multi-partition maintenance operation atomic — a crash
at ANY point of an in-flight transaction leaves readers on the old
snapshot, never a mixed store (the raw store's stated caveat,
store.py — this module is the fix)."""

from __future__ import annotations

import datetime
import glob
import os

import pytest
from pyspark.sql import Row, functions as F

from maillogsentinel_spark.sources import txstore
from maillogsentinel_spark.sources.txstore import (
    ConcurrentCommitError,
    tx_append_events,
    tx_compact_partitions,
    tx_current_version,
    tx_read_events,
    tx_upsert_events,
    tx_vacuum,
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
    path = str(tmp_path / "txstore")
    base = spark.createDataFrame(
        [_ev(1, 1, 10, 1.0), _ev(2, 1, 11, 2.0), _ev(3, 2, 10, 3.0),
         _ev(4, 3, 12, 4.0)]
    )
    tx_write_events(spark, path, base)
    return path


def _content(spark, path, version=None):
    return sorted(
        (r.event_id, str(r.ts), r.user_id, r.value)
        for r in tx_read_events(spark, path, version).collect()
    )


def _crash_at(monkeypatch, point):
    def boom(p):
        if p == point:
            raise RuntimeError(f"injected crash at {point}")

    monkeypatch.setattr(txstore, "_fault", boom)


def test_roundtrip_and_versioning(spark, tmp_path):
    path = _store(spark, tmp_path)
    assert tx_current_version(spark, path) == 1
    assert [c[0] for c in _content(spark, path)] == [1, 2, 3, 4]
    v = tx_append_events(spark, path, spark.createDataFrame([_ev(5, 2, 13, 5.0)]))
    assert v == 2
    assert [c[0] for c in _content(spark, path)] == [1, 2, 3, 4, 5]
    # time travel: version 1 still reads the pre-append snapshot
    assert [c[0] for c in _content(spark, path, version=1)] == [1, 2, 3, 4]


def test_upsert_merges_and_drops_emptied_day(spark, tmp_path):
    """An update that moves day 3's ONLY row (key 4) to day 4 — the old
    day is touched via the losing duplicate, same contract as the raw
    store — must leave day 3 with NO manifest entry: the emptied-
    partition hazard of dynamic overwrite is impossible by
    construction here."""
    path = _store(spark, tmp_path)
    up = spark.createDataFrame(
        [_ev(4, 3, 12, 39.0),                      # losing dup on old day
         _ev(4, 4, 12, 40.0),                      # winner: day 3 -> 4
         _ev(2, 1, 11, 20.0), _ev(2, 1, 11, 21.0)]  # dup key in batch
    )
    tx_upsert_events(spark, path, up)
    got = _content(spark, path)
    assert [c[0] for c in got] == [1, 2, 3, 4]
    by_id = {c[0]: c for c in got}
    assert by_id[4][3] == 40.0 and by_id[4][1].startswith("2025-03-04")
    assert by_id[2][3] == 21.0  # deterministic winner: max remaining col
    snap = tx_read_events(spark, path)
    assert snap.where(F.to_date("ts") == "2025-03-03").count() == 0
    m = txstore._load_manifest(spark, path)
    assert "2025-03-03" not in m["files"]
    assert "2025-03-04" in m["files"]


def test_upsert_leaves_untouched_day_files_alone(spark, tmp_path):
    path = _store(spark, tmp_path)
    before = set(glob.glob(os.path.join(path, "data", "event_date=2025-03-03",
                                        "*.parquet")))
    tx_upsert_events(spark, path, spark.createDataFrame([_ev(1, 1, 10, 9.0)]))
    after = set(glob.glob(os.path.join(path, "data", "event_date=2025-03-03",
                                       "*.parquet")))
    assert before == after  # day 3 untouched: same physical files


def test_compaction_is_layout_only_under_nonpartition_predicate(spark, tmp_path):
    path = str(tmp_path / "txstore")
    rows = [_ev(i, 1 + i % 2, i % 4, float(i)) for i in range(64)]
    tx_write_events(spark, path, spark.createDataFrame(rows[:32]))
    tx_append_events(spark, path, spark.createDataFrame(rows[32:]))
    before = _content(spark, path)
    m0 = txstore._load_manifest(spark, path)
    # non-partition predicate: user_id = 0 only occurs on day 1 (i%4==0
    # implies i even implies day 1) — selects THAT day, never filters
    # rows; day 2 is untouched
    v = tx_compact_partitions(spark, path, 1, predicate="user_id = 0")
    assert v == 3
    assert _content(spark, path) == before
    m = txstore._load_manifest(spark, path)
    assert len(m["files"]["2025-03-01"]) == 1          # compacted
    assert m["files"]["2025-03-02"] == m0["files"]["2025-03-02"]  # untouched
    # a predicate matching both days compacts both
    tx_compact_partitions(spark, path, 1, predicate="value >= 0")
    m = txstore._load_manifest(spark, path)
    assert all(len(v) == 1 for v in m["files"].values())
    assert _content(spark, path) == before


@pytest.mark.parametrize("point", ["staged", "mid-publish", "pre-commit"])
def test_crash_mid_upsert_never_exposes_mixed_state(spark, tmp_path,
                                                    monkeypatch, point):
    """THE atomicity contract: kill the transaction after staging, after
    the first data-file publish rename, or after the manifest temp write
    — in every case readers still see the old snapshot EXACTLY, the
    version does not advance, a re-run converges, and vacuum removes
    the orphans."""
    path = _store(spark, tmp_path)
    before = _content(spark, path)
    up = spark.createDataFrame([_ev(1, 1, 10, 100.0), _ev(4, 3, 12, 40.0)])
    _crash_at(monkeypatch, point)
    with pytest.raises(RuntimeError, match="injected crash"):
        tx_upsert_events(spark, path, up)
    assert tx_current_version(spark, path) == 1
    assert _content(spark, path) == before  # old snapshot, byte-exact rows
    # recovery: plain re-run commits; no residue of the dead transaction
    monkeypatch.setattr(txstore, "_fault", lambda p: None)
    assert tx_upsert_events(spark, path, up) == 2
    by_id = {c[0]: c for c in _content(spark, path)}
    assert by_id[1][3] == 100.0 and by_id[4][3] == 40.0
    n = tx_vacuum(spark, path, keep_versions=2, retention_ms=0)
    assert _content(spark, path) == sorted(by_id.values())
    if point != "staged":  # post-staging crashes leave published orphans
        assert n >= (1 if point == "mid-publish" else 0)


def test_crash_mid_compaction_keeps_snapshot(spark, tmp_path, monkeypatch):
    path = _store(spark, tmp_path)
    before = _content(spark, path)
    _crash_at(monkeypatch, "pre-commit")
    with pytest.raises(RuntimeError, match="injected crash"):
        tx_compact_partitions(spark, path, 1)
    assert tx_current_version(spark, path) == 1
    assert _content(spark, path) == before


def test_concurrent_commit_detected(spark, tmp_path):
    """Two writers racing to the same version: the loser's manifest
    rename fails (rename-no-overwrite) and raises instead of silently
    clobbering the winner."""
    path = _store(spark, tmp_path)
    prev = txstore._load_manifest(spark, path)
    winner = dict(prev, version=2, parent=1, txid="winner", operation="noop")
    txstore._commit(spark, path, winner)
    loser = dict(prev, version=2, parent=1, txid="loser", operation="noop")
    with pytest.raises(ConcurrentCommitError):
        txstore._commit(spark, path, loser)
    assert txstore._load_manifest(spark, path)["txid"] == "winner"


def test_concurrent_appends_both_commit_via_rebase(spark, tmp_path,
                                                   monkeypatch):
    """Two interleaved appends must BOTH commit: appends never replace
    files, so the rename-race loser rebases onto the new head (re-merge
    the file map, retry the rename) instead of aborting. Simulated by
    injecting a competing real append between the outer append's
    manifest build and its rename attempt."""
    path = _store(spark, tmp_path)  # v1
    real_commit = txstore._commit
    state = {"raced": False}

    def racing_commit(spark_, root, manifest, prev=None):
        if not state["raced"] and manifest["operation"] == "append":
            state["raced"] = True  # guard before recursing
            tx_append_events(  # the competing writer wins the race
                spark_, root, spark_.createDataFrame([_ev(6, 2, 14, 6.0)])
            )
        return real_commit(spark_, root, manifest, prev)

    monkeypatch.setattr(txstore, "_commit", racing_commit)
    v = tx_append_events(spark, path, spark.createDataFrame([_ev(5, 1, 13, 5.0)]))
    assert v == 3  # winner took v2; loser rebased onto it and took v3
    assert [c[0] for c in _content(spark, path)] == [1, 2, 3, 4, 5, 6]
    m = txstore._load_manifest(spark, path)
    assert m["operation"] == "append" and m["parent"] == 2


def test_concurrent_append_rebase_carries_ledger(spark, tmp_path, monkeypatch):
    """A rebased STREAMING append must still land its batch id, and a
    rebase that discovers its batch id already committed on the new
    head must no-op (replay) rather than double-commit."""
    path = _store(spark, tmp_path)
    tx_append_events(spark, path, spark.createDataFrame([_ev(5, 1, 13, 5.0)]),
                     batch_id=0)
    real_commit = txstore._commit
    state = {"raced": False}

    def racing_commit(spark_, root, manifest, prev=None):
        if not state["raced"] and manifest.get("last_batch_id") == 1:
            state["raced"] = True
            tx_append_events(spark_, root,
                             spark_.createDataFrame([_ev(7, 2, 15, 7.0)]))
        return real_commit(spark_, root, manifest, prev)

    monkeypatch.setattr(txstore, "_commit", racing_commit)
    tx_append_events(spark, path, spark.createDataFrame([_ev(6, 2, 14, 6.0)]),
                     batch_id=1)
    m = txstore._load_manifest(spark, path)
    assert m["last_batch_id"] == 1  # rebased commit still carries the id
    assert [c[0] for c in _content(spark, path)] == [1, 2, 3, 4, 5, 6, 7]


def test_concurrent_upsert_still_aborts(spark, tmp_path, monkeypatch):
    """UPSERT replaces file sets — losing the rename race is a TRUE
    conflict (the head it merged against is gone) and must abort with
    ConcurrentCommitError, never rebase."""
    path = _store(spark, tmp_path)
    real_commit = txstore._commit
    state = {"raced": False}

    def racing_commit(spark_, root, manifest, prev=None):
        if not state["raced"] and manifest["operation"] == "upsert":
            state["raced"] = True
            tx_append_events(spark_, root,
                             spark_.createDataFrame([_ev(6, 2, 14, 6.0)]))
        return real_commit(spark_, root, manifest, prev)

    monkeypatch.setattr(txstore, "_commit", racing_commit)
    with pytest.raises(ConcurrentCommitError):
        tx_upsert_events(spark, path,
                         spark.createDataFrame([_ev(1, 1, 10, 99.0)]))
    by_id = {c[0]: c for c in _content(spark, path)}
    assert by_id[1][3] == 1.0  # the aborted upsert left no trace
    assert 6 in by_id          # the racing append won


def test_ledger_regression_raises(spark, tmp_path):
    """batch_id == last is the one legitimate foreachBatch replay;
    batch_id < last means a second query / fresh checkpoint is writing
    to this store and must fail loudly, not silently drop batches."""
    path = _store(spark, tmp_path)
    tx_append_events(spark, path, spark.createDataFrame([_ev(5, 1, 13, 5.0)]),
                     batch_id=7)
    v = tx_current_version(spark, path)
    # exact replay: no-op
    assert tx_append_events(spark, path,
                            spark.createDataFrame([_ev(5, 1, 13, 5.0)]),
                            batch_id=7) == v
    # regression: a fresh checkpoint restarts ids at 0 -> loud failure
    with pytest.raises(ValueError, match="behind the store ledger"):
        tx_append_events(spark, path,
                         spark.createDataFrame([_ev(8, 1, 13, 8.0)]),
                         batch_id=0)
    assert tx_current_version(spark, path) == v


def test_vacuum_age_gate_protects_inflight_files(spark, tmp_path,
                                                 monkeypatch):
    """The retention window (default 10 min) must keep a concurrent
    IN-FLIGHT transaction's published-but-uncommitted data files and
    staging dirs alive: a racing vacuum skips anything younger than
    the window, so the writer can still commit. retention_ms=0
    (explicit single-writer mode) sweeps them."""
    path = _store(spark, tmp_path)
    # kill a transaction right after its first publish rename: leaves
    # >=1 published-but-unreferenced data file AND a staging dir —
    # exactly what an in-flight writer looks like to a racing vacuum
    _crash_at(monkeypatch, "mid-publish")
    with pytest.raises(RuntimeError, match="injected crash"):
        tx_upsert_events(spark, path,
                         spark.createDataFrame([_ev(1, 1, 10, 100.0)]))
    monkeypatch.setattr(txstore, "_fault", lambda p: None)
    staging = os.path.join(path, "_staging")
    assert os.listdir(staging)  # the in-flight txid's staging dir
    # default retention: the seconds-old orphans are NOT touched
    assert tx_vacuum(spark, path, keep_versions=1) == 0
    assert os.listdir(staging)
    # explicit retention_ms=0 (no writers in flight): swept
    assert tx_vacuum(spark, path, keep_versions=1, retention_ms=0) >= 1
    assert not (os.path.exists(staging) and os.listdir(staging))
    assert [c[0] for c in _content(spark, path)] == [1, 2, 3, 4]


def test_compaction_day_selection_is_manifest_driven(spark, tmp_path,
                                                     monkeypatch):
    """An event_date-only predicate must pick its days from the
    manifest KEYS (O(days) driver-side), never a full-snapshot scan —
    asserted by making the data files unreadable-by-content: if the
    day selection scanned rows it would read these files."""
    path = _store(spark, tmp_path)
    calls = []
    real = txstore._snapshot_df

    def counting(spark_, root, manifest, days=None):
        calls.append(days)
        return real(spark_, root, manifest, days)

    monkeypatch.setattr(txstore, "_snapshot_df", counting)
    v = tx_compact_partitions(spark, path, 1,
                              predicate="event_date <= '2025-03-02'")
    assert v == 2
    # only the day-sliced rewrite read data; no days=None full scan
    assert calls and all(d is not None for d in calls)
    m = txstore._load_manifest(spark, path)
    assert len(m["files"]["2025-03-01"]) == 1
    calls.clear()
    # predicate=None never scans for day selection either
    tx_compact_partitions(spark, path, 1)
    assert calls and all(d is not None for d in calls)


def test_vacuum_respects_retention_then_expires(spark, tmp_path):
    path = _store(spark, tmp_path)
    v1 = _content(spark, path)
    tx_upsert_events(spark, path, spark.createDataFrame([_ev(1, 1, 10, 9.0)]))
    tx_vacuum(spark, path, keep_versions=2)
    assert _content(spark, path, version=1) == v1  # retained version reads
    tx_vacuum(spark, path, keep_versions=1)
    with pytest.raises(FileNotFoundError):
        tx_read_events(spark, path, version=1)  # expired manifest is gone
    assert tx_current_version(spark, path) == 2


def test_empty_store_snapshot_keeps_schema(spark, tmp_path):
    path = str(tmp_path / "txstore")
    df = spark.createDataFrame([_ev(1, 1, 10, 1.0)])
    tx_write_events(spark, path, df.where(F.lit(False)))
    snap = tx_read_events(spark, path)
    assert snap.count() == 0
    assert {f.name for f in snap.schema.fields} >= {
        "event_id", "ts", "user_id", "event_type", "value"}


def test_schema_drift_rejected_before_staging(spark, tmp_path):
    """A batch whose columns/types differ from the store schema must
    fail loudly BEFORE any file is staged — silently appending drifted
    files would make snapshot reads null out (or fail on) the
    divergent columns."""
    path = _store(spark, tmp_path)
    drifted = spark.createDataFrame(
        [Row(event_id=9, ts=datetime.datetime(2025, 3, 1, 9, 0),
             user_id=1, extra="boom")]
    )
    with pytest.raises(ValueError, match="schema"):
        tx_append_events(spark, path, drifted)
    with pytest.raises(ValueError, match="schema"):
        tx_upsert_events(spark, path, drifted)
    assert tx_current_version(spark, path) == 1
    # no orphan staging/data residue beyond the original snapshot
    assert tx_vacuum(spark, path, keep_versions=1, retention_ms=0) == 0


def test_optimize_zorder_layout_only_and_atomic(spark, tmp_path, monkeypatch):
    """OPTIMIZE ZORDER: content byte-identical, files carry tight
    min/max boxes in BOTH dims, one atomic commit — and a crash before
    the manifest rename leaves the old layout fully readable."""
    from maillogsentinel_spark.sources.txstore import tx_optimize_zorder

    path = str(tmp_path / "txstore")
    rows = [
        Row(event_id=i, ts=datetime.datetime(2025, 3, 1, 10, i % 60),
            user_id=i % 64, event_type="click", value=float(i))
        for i in range(4096)
    ]
    tx_write_events(spark, path, spark.createDataFrame(rows, schema=None)
                    .repartition(8))
    before = _content(spark, path)
    # crash first: snapshot survives
    _crash_at(monkeypatch, "pre-commit")
    with pytest.raises(RuntimeError, match="injected crash"):
        tx_optimize_zorder(spark, path, dims=("user_id", "value"),
                           target_files_per_day=16)
    assert _content(spark, path) == before
    monkeypatch.setattr(txstore, "_fault", lambda p: None)
    v = tx_optimize_zorder(spark, path, dims=("user_id", "value"),
                           target_files_per_day=16)
    assert v == 2
    assert _content(spark, path) == before  # layout-only
    # z-clustering evidence: per-file user_id spans shrink vs the 0-63
    # full-range files the unclustered write produced. 16 z-range files
    # = 4 Morton bits = 2 bits per dim, so the ideal per-file span is
    # ~63/4 ≈ 15.75; assert half the unclustered span with margin for
    # range-boundary sampling noise (a 4-file split ideally spans 31.5
    # per dim — indistinguishable from noise, the old flaky shape).
    import pyarrow.parquet as pq

    m = txstore._load_manifest(spark, path)
    spans = []
    for rel in m["files"]["2025-03-01"]:
        t = pq.read_table(f"{path}/data/{rel}", columns=["user_id"])
        u = t.column("user_id").to_pylist()
        spans.append(max(u) - min(u))
    assert len(spans) >= 4
    assert sum(spans) / len(spans) <= 26  # ideal ~15.75, unclustered 63


def test_schema_evolution_append(spark, tmp_path):
    """mergeSchema semantics: an append may ADD nullable columns (old
    files read null) or OMIT existing ones (its files read null); the
    evolved schema commits in the SAME rename as the data, time travel
    keeps each version's own shape, and type changes always raise."""
    path = str(tmp_path / "txstore")
    tx_write_events(spark, path, spark.createDataFrame(
        [_ev(1, 1, 10, 1.0), _ev(2, 2, 11, 2.0)]))

    scored = spark.createDataFrame([_ev(3, 1, 12, 3.0)]).withColumn(
        "score", F.lit(0.75))
    # strict mode refuses, and points at the escape hatch
    with pytest.raises(ValueError, match="merge_schema"):
        tx_append_events(spark, path, scored)
    v2 = tx_append_events(spark, path, scored, merge_schema=True)
    head = tx_read_events(spark, path)
    assert "score" in head.columns
    got = {r["event_id"]: r["score"] for r in head.collect()}
    assert got == {1: None, 2: None, 3: 0.75}
    # time travel: version 1 keeps its OWN pre-evolution schema
    v1_df = tx_read_events(spark, path, version=1)
    assert "score" not in v1_df.columns
    assert v1_df.count() == 2

    # a batch OMITTING an existing column also needs merge_schema;
    # its rows read null for the omitted column
    partial = spark.createDataFrame([_ev(4, 2, 13, 4.0)]).drop("value")
    with pytest.raises(ValueError, match="does not match"):
        tx_append_events(spark, path, partial)
    tx_append_events(spark, path, partial, merge_schema=True)
    vals = {r["event_id"]: (r["value"], r["score"])
            for r in tx_read_events(spark, path).collect()}
    assert vals[4] == (None, None)
    assert vals[3] == (3.0, 0.75)

    # TYPE changes are never mergeable — files written under the old
    # type would become unreadable
    retyped = spark.createDataFrame([_ev(5, 1, 14, 5.0)]).withColumn(
        "value", F.lit("not a double"))
    with pytest.raises(ValueError, match="type conflicts"):
        tx_append_events(spark, path, retyped, merge_schema=True)

    # maintenance carries the evolved schema forward
    tx_compact_partitions(spark, path, target_files_per_day=1)
    after = {r["event_id"]: (r["value"], r["score"])
             for r in tx_read_events(spark, path).collect()}
    assert after == {1: (1.0, None), 2: (2.0, None),
                     3: (3.0, 0.75), 4: (None, None)}
    assert tx_current_version(spark, path) == v2 + 2


def test_stats_skipping_scan(spark, tmp_path):
    """File-level data skipping: manifest min/max stats (footer-read at
    publish) prune files driver-side; after OPTIMIZE ZORDER the boxes
    are tight, so a narrow range skips most files — with results
    identical to filtering the full snapshot."""
    from maillogsentinel_spark.sources.txstore import (
        tx_optimize_zorder,
        tx_scan_events,
        tx_skipping_plan,
    )

    rows = [
        _ev(eid, (eid % 2) + 1, eid % 64, float(eid % 100))
        for eid in range(512)
    ]
    path = str(tmp_path / "txstore")
    tx_write_events(spark, path, spark.createDataFrame(rows))
    tx_optimize_zorder(spark, path, dims=("user_id", "ts"),
                       target_files_per_day=8)
    _, total, kept = tx_skipping_plan(spark, path, "user_id", 0, 7)
    assert total >= 8 and kept < total, (total, kept)
    got = sorted(r["event_id"] for r in
                 tx_scan_events(spark, path, "user_id", 0, 7).collect())
    want = sorted(r["event_id"] for r in
                  tx_read_events(spark, path)
                  .where("user_id between 0 and 7").collect())
    assert got == want and len(got) == 64

    # stats ride every op: an appended batch gets fresh stats and the
    # retained files keep theirs
    extra = [_ev(10_000 + k, 1, 200 + k, 1.0) for k in range(4)]
    tx_append_events(spark, path, spark.createDataFrame(extra))
    _, total2, kept2 = tx_skipping_plan(spark, path, "user_id", 200, 300)
    assert kept2 < total2  # the old z-ordered files all skip
    assert (tx_scan_events(spark, path, "user_id", 200, 300).count()
            == 4)

    # a column with no stats (or a file without stats) never prunes —
    # skipping is an optimization, not a correctness filter
    _, t3, k3 = tx_skipping_plan(spark, path, "event_type", None, None)
    assert k3 == t3

    # time travel composes: version 1's plan sees version 1's files
    m1, t1, _ = tx_skipping_plan(spark, path, "user_id", 0, 7, version=1)
    assert t1 == len([r for rels in m1["files"].values() for r in rels]) \
        or t1 >= 1


def test_txstore_streaming_source(spark, tmp_path):
    """readStream.format('txstore'): manifest versions ARE the offsets.
    A fresh query replays the seed snapshot + appends tagged with their
    commit versions; a RESTARTED query (same checkpoint) emits ONLY the
    versions committed since — exactly-once across restarts with no
    side ledger; compaction contributes nothing; an upsert fails the
    stream unless ignoreChanges."""
    from maillogsentinel_spark.sources.txstore_datasource import register

    register(spark)
    path = str(tmp_path / "txstore")
    ckpt = str(tmp_path / "ckpt")
    tx_write_events(spark, path, spark.createDataFrame(
        [_ev(1, 1, 10, 1.0), _ev(2, 2, 11, 2.0)]))                # v1 seed
    tx_append_events(spark, path, spark.createDataFrame(
        [_ev(3, 2, 12, 3.0)]))                                    # v2

    def drain():
        got = []

        def sink(batch_df, _bid):
            got.extend(
                (r["event_id"], r["_commit_version"])
                for r in batch_df.collect()
            )

        q = (
            spark.readStream.format("txstore").option("path", path).load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(got)

    assert drain() == [(1, 1), (2, 1), (3, 2)]

    # compaction (row-preserving) + one more append, then RESTART from
    # the same checkpoint: only v4's rows arrive
    tx_compact_partitions(spark, path, target_files_per_day=1)    # v3
    tx_append_events(spark, path, spark.createDataFrame(
        [_ev(4, 3, 13, 4.0)]))                                    # v4
    assert drain() == [(4, 4)]

    # a row-changing op fails the NEXT batch planning loudly
    tx_upsert_events(spark, path, spark.createDataFrame(
        [_ev(1, 1, 10, 99.0)]))                                   # v5
    q = (
        spark.readStream.format("txstore").option("path", path).load()
        .writeStream.foreachBatch(lambda df, bid: None)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="row-changing"):
        q.awaitTermination(120)

    # ignoreChanges: the rewritten day re-emits at-least-once, stream
    # proceeds (fresh checkpoint so the failed offset isn't pinned)
    q2 = (
        spark.readStream.format("txstore").option("path", path)
        .option("ignoreChanges", "true").load()
        .writeStream.format("memory").queryName("tx_src_d")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    got = {(r["event_id"], r["_commit_version"])
           for r in spark.table("tx_src_d").collect()}
    assert (1, 5) in got  # the upserted row, tagged with its version


def test_store_to_store_streaming_pipeline(spark, tmp_path):
    """END-TO-END exactly-once: store A tails into store B through a
    real stream — the txstore SOURCE (manifest-version offsets) feeding
    the txstore SINK (in-manifest batch ledger) via foreachBatch. A
    second drain after more appends moves only the delta, and a REPLAY
    of the last batch (the sink's crash contract) is a no-op — rows in
    B equal rows in A exactly, no dupes, across three drains."""
    from maillogsentinel_spark.sources.txstore import tx_append_events
    from maillogsentinel_spark.sources.txstore_datasource import register

    register(spark)
    a = str(tmp_path / "store_a")
    b = str(tmp_path / "store_b")
    ckpt = str(tmp_path / "ckpt")
    tx_write_events(spark, a, spark.createDataFrame(
        [_ev(1, 1, 10, 1.0), _ev(2, 2, 11, 2.0)]))

    def pump():
        from maillogsentinel_spark.streaming.ingest import start_tx_store_sink

        src = (
            spark.readStream.format("txstore").option("path", a).load()
            .drop("_commit_version", "event_date")
        )
        q = start_tx_store_sink(src, b, ckpt)
        q.awaitTermination(120)

    pump()
    assert sorted(r.event_id for r in tx_read_events(spark, b).collect()) \
        == [1, 2]

    tx_append_events(spark, a, spark.createDataFrame([_ev(3, 3, 12, 3.0)]))
    pump()
    # replayed drain with nothing new: ledger short-circuits, no dupes
    pump()
    got = sorted(r.event_id for r in tx_read_events(spark, b).collect())
    want = sorted(r.event_id for r in tx_read_events(spark, a).collect())
    assert got == want == [1, 2, 3]


def test_txstore_stream_seeds_from_vacuumed_store(spark, tmp_path):
    """A FRESH streaming query on a store whose early manifests were
    vacuumed must seed from the earliest RETAINED snapshot (Delta's
    starting-snapshot semantics) instead of dying on a missing v1 —
    and a seed snapshot carrying deletion vectors must NOT leak the
    deleted rows."""
    from maillogsentinel_spark.sources.txstore import tx_delete_where
    from maillogsentinel_spark.sources.txstore_datasource import register

    register(spark)
    path = _store(spark, tmp_path)                                 # v1
    tx_append_events(spark, path, spark.createDataFrame(
        [_ev(5, 2, 13, 5.0)]))                                     # v2
    tx_delete_where(spark, path, "event_id = 2")                   # v3
    tx_vacuum(spark, path, keep_versions=1, retention_ms=0)        # v3 only
    got = []

    def sink(batch_df, _bid):
        got.extend((r["event_id"], r["_commit_version"])
                   for r in batch_df.collect())

    q = (
        spark.readStream.format("txstore").option("path", path).load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(got) == [(1, 3), (3, 3), (4, 3), (5, 3)]  # no key 2

    # a checkpointed cursor BEHIND the retained window fails loudly
    from maillogsentinel_spark.sources import txstore_datasource as tds
    rdr = tds.TxStoreStreamReader(path, None, False)
    with pytest.raises(FileNotFoundError, match="retention"):
        rdr.partitions({"version": 1}, {"version": 3})


def test_bloom_probe_type_mismatch_never_prunes_wrong(spark, tmp_path):
    """A probe whose type cannot reproduce the build side's
    cast-to-string rendering (float on an integral column) must fall
    back to unpruned-but-correct, never to a false-negative empty
    result."""
    from maillogsentinel_spark.sources.txstore import (
        tx_add_bloom_filters,
        tx_scan_events_eq,
        tx_skipping_plan_eq,
    )

    path = _store(spark, tmp_path)
    tx_add_bloom_filters(spark, path, "user_id")
    # int probe: prunes AND finds
    _, t1, k1 = tx_skipping_plan_eq(spark, path, "user_id", 12)
    assert k1 < t1
    assert tx_scan_events_eq(spark, path, "user_id", 12).count() == 1
    # integral float probe: canonicalized to the build rendering
    assert tx_scan_events_eq(spark, path, "user_id", 12.0).count() == 1
    # non-integral float probe: blooms disabled, row filter decides
    _, t2, k2 = tx_skipping_plan_eq(spark, path, "user_id", 11.5)
    assert k2 == t2  # nothing pruned — correctness over cleverness
    assert tx_scan_events_eq(spark, path, "user_id", 11.5).count() == 0


def test_deletion_vectors_merge_on_read(spark, tmp_path):
    """tx_delete_where deletes rows WITHOUT touching data files: the
    (rel, row position) sidecar anti-joins into every read path
    (snapshot, time travel reads the PRE-delete state, change feed
    emits the deletes), a second delete stacks, compaction folds the
    DV into rewritten files and drops the entry, and vacuum sweeps the
    folded-in sidecar."""
    import glob as _glob

    from maillogsentinel_spark.sources.txstore import (
        tx_changes,
        tx_delete_where,
        tx_read_incremental,
    )

    path = _store(spark, tmp_path)  # v1: keys 1..4
    files_before = set(_glob.glob(os.path.join(path, "data", "*", "*.parquet")))

    v = tx_delete_where(spark, path, "event_id in (2, 3)")        # v2
    assert v == 2
    assert sorted(r.event_id for r in tx_read_events(spark, path).collect()) \
        == [1, 4]
    # merge-on-read: not one data file rewritten
    assert set(_glob.glob(os.path.join(path, "data", "*", "*.parquet"))) \
        == files_before
    # time travel still sees the pre-delete rows
    assert sorted(r.event_id
                  for r in tx_read_events(spark, path, version=1).collect()) \
        == [1, 2, 3, 4]
    # the change feed reports the deletes (file set unchanged — the DV
    # diff is what flags the files for rescan)
    ch = {(r["event_id"], r["_change_type"])
          for r in tx_changes(spark, path, 1, 2).collect()}
    assert ch == {(2, "delete"), (3, "delete")}
    # incremental tailing refuses to skip a delete silently
    with pytest.raises(ValueError, match="delete"):
        tx_read_incremental(spark, path, 1)

    # no-op predicate: no commit
    assert tx_delete_where(spark, path, "event_id = 999") == 2

    # second delete stacks on the first
    tx_delete_where(spark, path, "event_id = 1")                  # v3
    assert [r.event_id for r in tx_read_events(spark, path).collect()] == [4]

    # upsert through DVs: the deleted row may be re-inserted as new
    tx_upsert_events(spark, path, spark.createDataFrame(
        [_ev(2, 1, 11, 22.0)]))                                   # v4
    assert sorted(r.event_id for r in tx_read_events(spark, path).collect()) \
        == [2, 4]
    # the rewritten day folded its DV in: day-1 files have no dv entry
    m = txstore._load_manifest(spark, path)
    day1 = set(m["files"].get("2025-03-01", []))
    assert not day1 & set(m.get("dv", {}))

    # compaction folds remaining DVs; vacuum sweeps dead sidecars
    tx_compact_partitions(spark, path, target_files_per_day=1)    # v5
    m2 = txstore._load_manifest(spark, path)
    assert m2.get("dv", {}) == {}
    assert sorted(r.event_id for r in tx_read_events(spark, path).collect()) \
        == [2, 4]
    tx_vacuum(spark, path, keep_versions=1, retention_ms=0)
    assert _glob.glob(os.path.join(path, "_deletes", "*")) == []


def test_delete_sidecar_shards_above_threshold(spark, tmp_path):
    """A many-row delete must NOT funnel through one task: above
    shard_rows the sidecar is hash-partitioned on rel into multiple
    parquet files, and the census is identical to the unsharded
    semantics (readers read the sidecar DIRECTORY)."""
    import glob as _glob

    from maillogsentinel_spark.sources.txstore import tx_delete_where

    path = str(tmp_path / "shardstore")
    rows = [_ev(i, 1 + (i % 3), 10 + (i % 5), float(i)) for i in range(60)]
    tx_write_events(spark, path, spark.createDataFrame(rows))
    # 20 matched rows, shard_rows=8 -> 3 shards
    v = tx_delete_where(spark, path, "event_id % 3 = 0", shard_rows=8)
    assert v == 2
    m = txstore._load_manifest(spark, path)
    (dv_rel,) = {e for ents in m["dv"].values() for e in ents}
    shards = _glob.glob(os.path.join(path, "_deletes", dv_rel, "*.parquet"))
    assert len(shards) > 1, "expected a sharded sidecar"
    got = sorted(r.event_id for r in tx_read_events(spark, path).collect())
    assert got == [i for i in range(60) if i % 3 != 0]


def test_delete_fraction_gate_raises(spark, tmp_path):
    """Deleting (almost) everything via merge-on-read is the wrong
    tool — every future scan pays the anti-join to keep mostly-dead
    files. Above max_fraction the delete raises toward copy-on-write;
    max_fraction=1.0 force-allows it."""
    from maillogsentinel_spark.sources.txstore import tx_delete_where

    path = _store(spark, tmp_path)  # keys 1..4
    with pytest.raises(ValueError, match="tx_delete_rewrite"):
        tx_delete_where(spark, path, "event_id <= 4")
    assert tx_current_version(spark, path) == 1
    v = tx_delete_where(spark, path, "event_id <= 4", max_fraction=1.0)
    assert v == 2
    assert tx_read_events(spark, path).count() == 0


def test_delete_rebases_onto_concurrent_append(spark, tmp_path,
                                               monkeypatch):
    """DV delete losing the rename race to a pure APPEND is logically
    mergeable (the append's new files cannot match the already-
    materialized (rel,pos) sidecar): both must commit, census equals
    sequential application."""
    from maillogsentinel_spark.sources.txstore import tx_delete_where

    path = _store(spark, tmp_path)  # v1: keys 1..4
    real_commit = txstore._commit
    state = {"raced": False}

    def racing_commit(spark_, root, manifest, prev=None):
        if not state["raced"] and manifest["operation"] == "delete":
            state["raced"] = True
            tx_append_events(  # the competing append wins the race
                spark_, root, spark_.createDataFrame([_ev(9, 2, 19, 9.0)])
            )
        return real_commit(spark_, root, manifest, prev)

    monkeypatch.setattr(txstore, "_commit", racing_commit)
    v = tx_delete_where(spark, path, "event_id in (2, 3)")
    monkeypatch.setattr(txstore, "_commit", real_commit)
    assert v == 3  # append took v2; the delete rebased onto it
    got = sorted(r.event_id for r in tx_read_events(spark, path).collect())
    assert got == [1, 4, 9]
    m = txstore._load_manifest(spark, path)
    assert m["operation"] == "delete" and m["parent"] == 2


def test_delete_aborts_when_racer_replaced_touched_file(spark, tmp_path,
                                                        monkeypatch):
    """A racer that REPLACED a touched file (upsert rewrites the day)
    invalidates the sidecar's row positions — the delete must abort,
    never commit a DV against files that no longer exist."""
    from maillogsentinel_spark.sources.txstore import tx_delete_where

    path = _store(spark, tmp_path)  # v1: keys 1..4 (key 2 on day 1)
    real_commit = txstore._commit
    state = {"raced": False}

    def racing_commit(spark_, root, manifest, prev=None):
        if not state["raced"] and manifest["operation"] == "delete":
            state["raced"] = True
            tx_upsert_events(  # rewrites day 1 -> touched rel replaced
                spark_, root, spark_.createDataFrame([_ev(2, 1, 11, 22.0)])
            )
        return real_commit(spark_, root, manifest, prev)

    monkeypatch.setattr(txstore, "_commit", racing_commit)
    with pytest.raises(ConcurrentCommitError, match="rebase impossible"):
        tx_delete_where(spark, path, "event_id = 2")
    monkeypatch.setattr(txstore, "_commit", real_commit)
    by_id = {r.event_id: r.value for r in tx_read_events(spark, path).collect()}
    assert by_id[2] == 22.0  # the upsert won; the delete left no trace


def test_merge_clause_semantics(spark, tmp_path):
    """tx_merge resolves every row to exactly one action: matched
    delete (checked FIRST), matched conditional update, matched keep,
    unmatched-source conditional insert / discard, unmatched-target
    keep. Conditions see both sides (s.*, t.*)."""
    from maillogsentinel_spark.sources.txstore import tx_merge

    path = _store(spark, tmp_path)  # keys 1..4 (values 1..4)
    src = spark.createDataFrame([
        _ev(1, 1, 10, 100.0),   # matched, update cond true -> replaced
        _ev(2, 1, 11, 0.5),     # matched, update cond false -> kept
        _ev(3, 2, 10, 300.0),   # matched, delete cond -> dropped
        _ev(7, 2, 14, 7.0),     # unmatched, insert cond true -> inserted
        _ev(8, 2, 15, 8.0),     # unmatched, insert cond false -> discarded
    ])
    v = tx_merge(
        spark, path, src,
        when_matched_update="s.value > t.value",
        when_matched_delete="t.event_id = 3",
        when_not_matched_insert="s.user_id = 14",
    )
    assert v == 2
    got = {r.event_id: r.value for r in tx_read_events(spark, path).collect()}
    assert got == {1: 100.0, 2: 2.0, 4: 4.0, 7: 7.0}
    # unconditional forms: update always, no delete, insert always
    tx_merge(spark, path, spark.createDataFrame(
        [_ev(2, 1, 11, 22.0), _ev(9, 3, 16, 9.0)]))
    got = {r.event_id: r.value for r in tx_read_events(spark, path).collect()}
    assert got == {1: 100.0, 2: 22.0, 4: 4.0, 7: 7.0, 9: 9.0}
    # empty source: no-op, no commit
    empty = spark.createDataFrame([], src.schema)
    assert tx_merge(spark, path, empty) == 3
    # insert-only merge with update disabled keeps targets
    tx_merge(spark, path, spark.createDataFrame([_ev(2, 1, 11, 999.0)]),
             when_matched_update=False)
    got = {r.event_id: r.value for r in tx_read_events(spark, path).collect()}
    assert got[2] == 22.0
    # time travel: pre-merge state intact
    v1 = {r.event_id: r.value
          for r in tx_read_events(spark, path, version=1).collect()}
    assert v1 == {1: 1.0, 2: 2.0, 3: 3.0, 4: 4.0}


def test_merge_loses_race_aborts(spark, tmp_path, monkeypatch):
    """MERGE replaces files — losing the rename race is a true
    conflict and must abort, never rebase (same contract as upsert)."""
    from maillogsentinel_spark.sources.txstore import tx_merge

    path = _store(spark, tmp_path)
    real_commit = txstore._commit
    state = {"raced": False}

    def racing_commit(spark_, root, manifest, prev=None):
        if not state["raced"] and manifest["operation"] == "merge":
            state["raced"] = True
            tx_append_events(spark_, root,
                             spark_.createDataFrame([_ev(6, 2, 14, 6.0)]))
        return real_commit(spark_, root, manifest, prev)

    monkeypatch.setattr(txstore, "_commit", racing_commit)
    with pytest.raises(ConcurrentCommitError):
        tx_merge(spark, path, spark.createDataFrame([_ev(1, 1, 10, 50.0)]))
    monkeypatch.setattr(txstore, "_commit", real_commit)
    by_id = {r.event_id: r.value for r in tx_read_events(spark, path).collect()}
    assert by_id[1] == 1.0  # aborted merge left no trace
    assert 6 in by_id       # the racing append won


def test_bloom_attach_rebases_onto_concurrent_append(spark, tmp_path,
                                                     monkeypatch):
    """A metadata-only bloom attach losing the race to an append
    re-points its (immutable-file) entries at the new head and
    commits; both operations land."""
    from maillogsentinel_spark.sources.txstore import (
        tx_add_bloom_filters,
        tx_skipping_plan_eq,
    )

    path = _store(spark, tmp_path)  # v1
    real_commit = txstore._commit
    state = {"raced": False}

    def racing_commit(spark_, root, manifest, prev=None):
        if not state["raced"] and manifest["operation"] == "bloom":
            state["raced"] = True
            tx_append_events(
                spark_, root, spark_.createDataFrame([_ev(9, 2, 19, 9.0)])
            )
        return real_commit(spark_, root, manifest, prev)

    monkeypatch.setattr(txstore, "_commit", racing_commit)
    v = tx_add_bloom_filters(spark, path, "user_id")
    monkeypatch.setattr(txstore, "_commit", real_commit)
    assert v == 3  # append took v2; the bloom attach rebased
    got = sorted(r.event_id for r in tx_read_events(spark, path).collect())
    assert got == [1, 2, 3, 4, 9]
    # the rebased blooms still prune (user 10 lives on days 1-2 only)
    _plan, total, kept = tx_skipping_plan_eq(spark, path, "user_id", 12)
    assert kept < total


def test_incremental_read_tails_appends(spark, tmp_path):
    """tx_read_incremental tails appended rows by version cursor:
    appends stream out tagged with their commit version, layout/
    metadata ops (compact, bloom) are PROVABLY row-preserving and skip
    silently, row-changing ops raise unless ignore_changes, and a
    cursor at head reads empty."""
    from maillogsentinel_spark.sources.txstore import (
        tx_add_bloom_filters,
        tx_read_incremental,
    )

    path = _store(spark, tmp_path)                                    # v1
    tx_append_events(spark, path, spark.createDataFrame(
        [_ev(5, 2, 13, 5.0), _ev(6, 3, 14, 6.0)]))                    # v2
    tx_compact_partitions(spark, path, target_files_per_day=1)        # v3
    tx_append_events(spark, path, spark.createDataFrame(
        [_ev(7, 4, 15, 7.0)]))                                        # v4
    inc = tx_read_incremental(spark, path, 1, to_version=4)
    got = sorted((r["event_id"], r["_commit_version"]) for r in inc.collect())
    assert got == [(5, 2), (6, 2), (7, 4)]
    # cursor at head -> empty, schema intact
    assert tx_read_incremental(spark, path, 4).count() == 0

    tx_upsert_events(spark, path, spark.createDataFrame(
        [_ev(5, 2, 13, 50.0)]))                                       # v5
    tx_add_bloom_filters(spark, path, "event_type")                   # v6
    with pytest.raises(ValueError, match="upsert"):
        tx_read_incremental(spark, path, 1)
    # ignore_changes: at-least-once rows — the upsert's rewritten day
    # re-emits; the bloom op (metadata-only) still contributes nothing
    loose = tx_read_incremental(spark, path, 4, ignore_changes=True)
    ids = sorted(r["event_id"] for r in loose.collect())
    assert 5 in ids and all(
        r["_commit_version"] == 5 for r in loose.collect())

    # vacuumed cursor -> retention expiry, loud
    tx_vacuum(spark, path, keep_versions=1, retention_ms=0)
    with pytest.raises(FileNotFoundError):
        tx_read_incremental(spark, path, 1)


def test_bloom_filter_skipping(spark, tmp_path):
    """Per-file bloom filters prune equality scans on high-cardinality
    columns where min/max boxes cover everything: a metadata-only
    commit attaches the bitsets, probes for values confined to one day
    skip the other days' files, results always equal the unpruned
    filter, maintenance carries blooms for retained files, and rewritten
    files degrade to scanned-not-skipped until the next bloom run."""
    from maillogsentinel_spark.sources.txstore import (
        tx_add_bloom_filters,
        tx_scan_events_eq,
        tx_skipping_plan_eq,
    )

    path = str(tmp_path / "txstore")
    rows = [
        Row(event_id=i, ts=datetime.datetime(2025, 3, 1 + i % 4, 10, 0),
            user_id=i, event_type=f"tag{i:04d}", value=float(i))
        for i in range(64)
    ]
    tx_write_events(spark, path, spark.createDataFrame(rows))
    v = tx_add_bloom_filters(spark, path, "event_type")
    assert v == 2
    m = txstore._load_manifest(spark, path)
    nfiles = sum(len(x) for x in m["files"].values())
    assert len(m["blooms"]) == nfiles

    # tag0005 lives on day 2 only (5 % 4 == 1) — other days must skip
    _, total, kept = tx_skipping_plan_eq(spark, path, "event_type", "tag0005")
    assert total == nfiles and kept < total, (total, kept)
    got = tx_scan_events_eq(spark, path, "event_type", "tag0005").collect()
    assert [r["event_id"] for r in got] == [5]
    # a value that exists nowhere skips EVERY bloom'd file
    _, _, kept0 = tx_skipping_plan_eq(spark, path, "event_type", "nosuch")
    assert kept0 == 0
    # integral column probe composes bloom + min/max stats
    tx_add_bloom_filters(spark, path, "user_id")
    _, t2, k2 = tx_skipping_plan_eq(spark, path, "user_id", 7)
    assert k2 < t2
    assert tx_scan_events_eq(spark, path, "user_id", 7).count() == 1

    # idempotent re-run: nothing missing, still commits cleanly
    tx_add_bloom_filters(spark, path, "event_type")

    # maintenance: compaction rewrites day files -> their bloom entries
    # fall away (no stale bits), untouched days keep theirs; scans stay
    # correct, the rewritten files just stop skipping
    tx_compact_partitions(spark, path, target_files_per_day=1,
                          predicate="event_date = '2025-03-02'")
    m2 = txstore._load_manifest(spark, path)
    assert all(rel in {r for v_ in m2["files"].values() for r in v_}
               for rel in m2["blooms"])
    got2 = tx_scan_events_eq(spark, path, "event_type", "tag0005").collect()
    assert [r["event_id"] for r in got2] == [5]
    # re-running blooms covers the compacted files again
    tx_add_bloom_filters(spark, path, "event_type")
    _, t3, k3 = tx_skipping_plan_eq(spark, path, "event_type", "nosuch")
    assert k3 == 0

    # type guard: float equality probes are refused at build time
    with pytest.raises(ValueError, match="string/integral"):
        tx_add_bloom_filters(spark, path, "value")


def test_change_data_feed(spark, tmp_path):
    """tx_changes derives a Delta-CDF-style change feed ON READ from
    the manifest file diff: inserts/updates (pre+post) from an upsert,
    deletes from an overwrite, and — the load-bearing negative — a
    layout-only compaction produces ZERO change rows even though it
    rewrote every touched file."""
    from maillogsentinel_spark.sources.txstore import tx_changes

    path = _store(spark, tmp_path)  # v1: keys 1..4

    # v2: update key 2 (new value), move key 4 day 3 -> day 4 (losing
    # dup on the old day per the day-moving-key caller contract),
    # insert 5
    tx_upsert_events(spark, path, spark.createDataFrame(
        [_ev(2, 1, 11, 20.0), _ev(4, 3, 12, 39.0), _ev(4, 4, 12, 40.0),
         _ev(5, 2, 13, 5.0)]))
    ch = {(r["event_id"], r["_change_type"]): r
          for r in tx_changes(spark, path, 1, 2).collect()}
    assert set(ch) == {
        (2, "update_preimage"), (2, "update_postimage"),
        (4, "update_preimage"), (4, "update_postimage"),
        (5, "insert"),
    }
    assert ch[(2, "update_preimage")]["value"] == 2.0
    assert ch[(2, "update_postimage")]["value"] == 20.0
    assert str(ch[(4, "update_postimage")]["event_date"]) == "2025-03-04"
    assert all(r["_commit_version"] == 2 for r in ch.values())
    # keys 1 and 3 were rewritten by the touched-day MERGE but did not
    # change — the null-safe struct compare keeps them out of the feed

    # v3: layout-only compaction -> EMPTY feed
    tx_compact_partitions(spark, path, target_files_per_day=1)
    assert tx_changes(spark, path, 2, 3).count() == 0

    # v4: overwrite drops keys 1 and 3 -> deletes (+unchanged filtered)
    keep = tx_read_events(spark, path).where(
        F.col("event_id").isin(2, 4, 5))
    tx_write_events(spark, path, keep.drop("event_date"))
    ch2 = {(r["event_id"], r["_change_type"])
           for r in tx_changes(spark, path, 3, 4).collect()}
    assert ch2 == {(1, "delete"), (3, "delete")}

    # multi-version span: v1 -> head compares END-TO-END snapshots
    span = {(r["event_id"], r["_change_type"])
            for r in tx_changes(spark, path, 1).collect()}
    assert span == {(1, "delete"), (3, "delete"), (5, "insert"),
                    (2, "update_preimage"), (2, "update_postimage"),
                    (4, "update_preimage"), (4, "update_postimage")}


def test_change_data_feed_schema_evolution(spark, tmp_path):
    """Across a mergeSchema append, the FROM side aligns to the TO
    shape: pre-images of pre-evolution rows read null in the new
    column, and the appended rows arrive as inserts with their score."""
    from maillogsentinel_spark.sources.txstore import tx_changes

    path = _store(spark, tmp_path)
    evolved = spark.createDataFrame(
        [_ev(9, 2, 14, 9.0)]).withColumn("score", F.lit(0.5))
    tx_append_events(spark, path, evolved, merge_schema=True)
    tx_upsert_events(spark, path, spark.createDataFrame(
        [_ev(1, 1, 10, 100.0)]).withColumn("score", F.lit(None).cast("double")))
    ch = {(r["event_id"], r["_change_type"]): r
          for r in tx_changes(spark, path, 1).collect()}
    assert ch[(9, "insert")]["score"] == 0.5
    assert ch[(1, "update_preimage")]["score"] is None
    assert ch[(1, "update_postimage")]["value"] == 100.0


def test_stats_survive_scheme_and_distribute(spark, tmp_path, monkeypatch):
    """Publish-time footer stats must not be a driver-local-filesystem
    special case: (a) a scheme-qualified store root (``file://...`` —
    the same resolution path hdfs/s3 URIs take through
    ``pyarrow.fs.FileSystem.from_uri``) still yields per-file stats in
    the manifest; (b) a commit wider than _STATS_DRIVER_MAX harvests
    its footers in a Spark job (executor-side pyarrow), and the
    distributed result prunes exactly like the driver loop would."""
    import maillogsentinel_spark.sources.txstore as tx

    # (a) scheme-qualified root end-to-end
    uri_root = (tmp_path / "txuri").as_uri()  # file:///...
    tx.tx_write_events(
        spark, uri_root,
        spark.createDataFrame([_ev(i, 1, i, float(i)) for i in range(6)]))
    m = tx._load_manifest(spark, uri_root)
    assert m["stats"], "scheme-qualified store lost its footer stats"
    assert all("user_id" in s for s in m["stats"].values())

    # (b) force the distributed path for every commit width
    monkeypatch.setattr(tx, "_STATS_DRIVER_MAX_LOCAL", 0)
    path = str(tmp_path / "txdist")
    tx.tx_write_events(
        spark, path,
        spark.createDataFrame(
            [_ev(i, (i % 3) + 1, i, float(i)) for i in range(64)]))
    m2 = tx._load_manifest(spark, path)
    nfiles = sum(len(v) for v in m2["files"].values())
    assert nfiles > 1 and len(m2["stats"]) == nfiles
    _, total, kept = tx.tx_skipping_plan(spark, path, "user_id", 0, 3)
    assert kept <= total
    got = sorted(r["event_id"] for r in
                 tx.tx_scan_events(spark, path, "user_id", 0, 3).collect())
    assert got == [i for i in range(64) if 0 <= i <= 3]


def test_stats_skipping_string_ranges(spark, tmp_path):
    """String columns carry footer min/max too (parquet orders them by
    unsigned UTF-8 bytes == code points == Python str comparison), so
    range scans AND equality probes prune on string-disjoint files."""
    from maillogsentinel_spark.sources.txstore import (
        tx_scan_events,
        tx_skipping_plan,
        tx_skipping_plan_eq,
    )

    path = str(tmp_path / "txstore")
    rows = [
        Row(event_id=i, ts=datetime.datetime(2025, 3, 1 + i % 3, 10, 0),
            user_id=i, event_type=f"t{(1 + i % 3)}x{i:03d}",
            value=float(i))
        for i in range(48)
    ]
    # day k holds only event_type 't{k}...' → per-file string ranges
    # are disjoint across days
    tx_write_events(spark, path, spark.createDataFrame(rows))
    _, total, kept = tx_skipping_plan(spark, path, "event_type",
                                      "t2", "t2zzz")
    assert total >= 3 and kept < total, (total, kept)
    got = sorted(r["event_id"] for r in
                 tx_scan_events(spark, path, "event_type",
                                "t2", "t2zzz").collect())
    assert got == [i for i in range(48) if i % 3 == 1]
    # equality probe prunes via the same stats, no bloom needed
    _, t2, k2 = tx_skipping_plan_eq(spark, path, "event_type", "t3x002")
    assert k2 < t2
    assert (tx_scan_events(spark, path, "event_type", "t3x002", "t3x002")
            .count() == 1)


def test_stats_skipping_float_nan_safe(spark, tmp_path):
    """Spark orders NaN greater than every value, but parquet footer
    min/max ignore NaN — so a lower-bound-only scan must NOT prune a
    float/double file via ``max < lo`` (a NaN row in that file would
    satisfy ``col >= lo``). With hi bounded, NaN fails ``col <= hi``
    row-side and both prunes stay sound; integer columns are NaN-free
    and prune in every mode."""
    from maillogsentinel_spark.sources.txstore import tx_skipping_plan

    path = str(tmp_path / "txstore")
    # two batches with disjoint value/user ranges → ≥2 files with
    # disjoint [min, max] boxes on both columns
    tx_write_events(
        spark, path,
        spark.createDataFrame([_ev(i, 1, i, float(i)) for i in range(8)]))
    tx_append_events(
        spark, path,
        spark.createDataFrame(
            [_ev(100 + i, 2, 100 + i, 100.0 + i) for i in range(8)]))

    # double column, lo-only: the max<lo prune is DISABLED (NaN hazard)
    _, total, kept = tx_skipping_plan(spark, path, "value", 50.0, None)
    assert total >= 2 and kept == total, (total, kept)
    # double column, bounded range: both prunes sound → files skip
    _, total2, kept2 = tx_skipping_plan(spark, path, "value", 50.0, 200.0)
    assert kept2 < total2, (total2, kept2)
    # double column, hi-only (min>hi prune): sound — NaN fails col<=hi
    _, total3, kept3 = tx_skipping_plan(spark, path, "value", None, 50.0)
    assert kept3 < total3, (total3, kept3)
    # integer column, lo-only: still prunes (no NaN in integral types)
    _, total4, kept4 = tx_skipping_plan(spark, path, "user_id", 50, None)
    assert kept4 < total4, (total4, kept4)


def test_streaming_tx_sink_exactly_once(spark, tmp_path):
    """The tx-store streaming sink: batches land atomically, and a
    REPLAYED batch (foreachBatch's at-least-once contract) is a no-op
    because the ledger rides in the same manifest rename as the data."""
    from maillogsentinel_spark.sources.txstore import tx_append_events
    from maillogsentinel_spark.streaming.ingest import start_tx_store_sink

    src_dir = str(tmp_path / "src")
    store = str(tmp_path / "txstore")
    ckpt = str(tmp_path / "ckpt")
    batch1 = spark.createDataFrame([_ev(1, 1, 10, 1.0), _ev(2, 2, 11, 2.0)])
    batch1.write.parquet(src_dir)
    stream = spark.readStream.schema(batch1.schema).parquet(src_dir)
    q = start_tx_store_sink(stream, store, ckpt)
    q.awaitTermination(120)
    assert [c[0] for c in _content(spark, store)] == [1, 2]
    v1 = tx_current_version(spark, store)
    # a second micro-batch arrives
    spark.createDataFrame([_ev(3, 3, 12, 3.0)]).write.mode("append").parquet(
        src_dir)
    q = start_tx_store_sink(stream, store, ckpt)
    q.awaitTermination(120)
    assert [c[0] for c in _content(spark, store)] == [1, 2, 3]
    m = txstore._load_manifest(spark, store)
    last = m["last_batch_id"]
    # simulate the replay foreachBatch would issue after a crash
    # between sink write and checkpoint commit: same batch id -> no-op
    tx_append_events(spark, store,
                     spark.createDataFrame([_ev(3, 3, 12, 3.0)]),
                     batch_id=last)
    assert [c[0] for c in _content(spark, store)] == [1, 2, 3]
    assert tx_current_version(spark, store) == m["version"]
    # ledger survives maintenance operations
    tx_compact_partitions(spark, store, 1)
    tx_append_events(spark, store,
                     spark.createDataFrame([_ev(9, 1, 9, 9.0)]),
                     batch_id=last)  # still a replay -> still a no-op
    assert [c[0] for c in _content(spark, store)] == [1, 2, 3]
    # and a genuinely new batch id commits
    tx_append_events(spark, store,
                     spark.createDataFrame([_ev(4, 4, 13, 4.0)]),
                     batch_id=last + 1)
    assert [c[0] for c in _content(spark, store)] == [1, 2, 3, 4]


def test_streaming_tx_sink_soak_kill_resume(spark, tmp_path):
    """The PRODUCTION topology, not availableNow: a long-lived
    processing-time-trigger query consuming files as they arrive over
    several micro-batches, stopped mid-stream (with a file already
    published to the source but possibly not yet committed to the
    sink), then resumed from the same checkpoint — every event must
    land exactly once across the kill/resume boundary, the manifest
    ledger must stay monotone, and a forced replay of the final batch
    id must still short-circuit."""
    import time

    from maillogsentinel_spark.streaming.ingest import start_tx_store_sink

    src_dir = str(tmp_path / "src")
    store = str(tmp_path / "txstore")
    ckpt = str(tmp_path / "ckpt")

    def feed(eids):
        spark.createDataFrame(
            [_ev(e, (e % 3) + 1, 10 + e, float(e)) for e in eids]
        ).write.mode("append").parquet(src_dir)

    def content_ids():
        try:
            return [c[0] for c in _content(spark, store)]
        except Exception:
            return []

    feed([1, 2])
    schema = spark.read.parquet(src_dir).schema
    stream = spark.readStream.schema(schema).parquet(src_dir)
    q = start_tx_store_sink(stream, store, ckpt, available_now=False,
                            processing_time="1 second")
    try:
        # live phase: files arrive WHILE the query runs, across several
        # micro-batches (maxFilesPerTrigger is unset, but distinct
        # arrival times force distinct batches)
        deadline = time.time() + 120
        for batch in ([3], [4, 5], [6]):
            while set(content_ids()) != set(range(1, batch[0])):
                assert time.time() < deadline, (
                    f"sink never caught up: {content_ids()}")
                time.sleep(0.5)
            feed(batch)
        while set(content_ids()) != set(range(1, 7)):
            assert time.time() < deadline, content_ids()
            time.sleep(0.5)
    finally:
        # the kill: a file is published to the source immediately before
        # the stop, so the in-flight micro-batch may or may not have
        # consumed it — exactly the ambiguity the ledger must absorb
        feed([7])
        q.stop()
    q.awaitTermination(60)

    versions_before = tx_current_version(spark, store)
    assert versions_before >= 3  # several distinct commits happened

    # downtime arrivals, then resume from the SAME checkpoint
    feed([8, 9])
    q = start_tx_store_sink(stream, store, ckpt)  # availableNow drain
    q.awaitTermination(120)

    assert content_ids() == list(range(1, 10))  # exactly once, no holes
    m = txstore._load_manifest(spark, store)
    assert m["last_batch_id"] >= 1
    # a post-resume replay of the last committed batch is still a no-op
    tx_append_events(spark, store,
                     spark.createDataFrame([_ev(99, 1, 99, 99.0)]),
                     batch_id=m["last_batch_id"])
    assert content_ids() == list(range(1, 10))
    assert tx_current_version(spark, store) == m["version"]


def test_local_metadata_fast_path_gated_on_default_fs(spark, tmp_path):
    """Bare (scheme-less) paths take the os-layer metadata fast path
    ONLY when the session's fs.defaultFS is local: Hadoop resolves bare
    paths against defaultFS, so on an HDFS-defaulted cluster a bare
    store root names an HDFS location and the manifests must go through
    the Hadoop route with the data files — never to driver-local disk
    (the split-brain the round-11 verdict flagged)."""
    hconf = spark._jsc.hadoopConfiguration()
    prev = hconf.get("fs.defaultFS")
    app = spark.sparkContext.applicationId
    try:
        # default (local) defaultFS: bare and file: paths are both local
        txstore._DEFAULT_FS_LOCAL.pop(app, None)
        assert txstore._local_root(spark, str(tmp_path)) == str(tmp_path)
        assert txstore._local_root(spark, f"file:{tmp_path}") == str(tmp_path)
        assert txstore._local_root(spark, "hdfs://nn/x") is None

        # non-local defaultFS: bare paths now resolve to HDFS — the
        # fast path must refuse them; explicit file:/ stays local and
        # explicit remote schemes stay remote
        hconf.set("fs.defaultFS", "hdfs://dummy-nn:9000")
        txstore._DEFAULT_FS_LOCAL.pop(app, None)
        assert txstore._local_root(spark, str(tmp_path)) is None
        assert txstore._local_root(spark, f"file:{tmp_path}") == str(tmp_path)
        assert txstore._local_root(spark, "hdfs://nn/x") is None
    finally:
        if prev is None:
            hconf.unset("fs.defaultFS")
        else:
            hconf.set("fs.defaultFS", prev)
        txstore._DEFAULT_FS_LOCAL.pop(app, None)

    # with defaultFS restored, a full store roundtrip still rides the
    # fast path end-to-end (write → read → history)
    store = str(tmp_path / "store")
    tx_write_events(spark, store, spark.createDataFrame(
        [_ev(1, 1, 1, 1.0), _ev(2, 1, 2, 2.0)]))
    assert tx_read_events(spark, store).count() == 2


@pytest.mark.parametrize(
    "uri, local",
    [
        ("file:/data/store", "/data/store"),
        ("file:///data/store", "/data/store"),
        ("file://host/data/store", None),  # names a host: Hadoop route
    ],
)
def test_local_root_file_uri_forms(uri, local):
    # file: URIs never consult the session's defaultFS
    assert txstore._local_root(None, uri) == local
