"""rDNS enrichment — injectable resolver, 'null' sentinel, status mapping
(reference dns_utils.py:40-50, log_utils.py:105-113)."""

from maillogsentinel_spark.operators.rdns import enrich_rdns
from maillogsentinel_spark.schemas import RDNS_SCHEMA

import os
import tempfile
import uuid

import pytest

# fixed path: workers re-import this module, so mkdtemp would differ per process
CALL_DIR = os.path.join(tempfile.gettempdir(), "mls-rdns-call-log")
os.makedirs(CALL_DIR, exist_ok=True)


def fake_resolver(ip):
    # side-channel call log that survives the worker-process boundary:
    # one file per call, named <ip>-<partition id>-<unique>
    from pyspark import TaskContext

    pid = TaskContext.get().partitionId()
    open(os.path.join(CALL_DIR, f"{ip}-{pid}-{uuid.uuid4().hex}"), "w").close()
    last = int(ip.rsplit(".", 1)[1])
    if last % 3 == 0:
        return None, "Timeout"
    if last % 3 == 1:
        return f"host-{ip}.example.com", None
    return None, "ERRNO 1"


def _reset_calls():
    for f in os.listdir(CALL_DIR):
        os.unlink(os.path.join(CALL_DIR, f))


def _calls():
    """[(ip, partition id)] of every resolver call since the reset."""
    out = []
    for f in os.listdir(CALL_DIR):
        ip, pid, _ = f.split("-")
        out.append((ip, int(pid)))
    return out


def test_enrich_with_callable(spark):
    _reset_calls()
    df = spark.createDataFrame(
        [("1.1.1.1",), ("1.1.1.1",), ("2.2.2.2",), ("3.3.3.3",)], ["ip"]
    )
    out = {r["ip"]: r for r in enrich_rdns(df, fake_resolver).collect()}
    assert out["1.1.1.1"]["hostname"] == "host-1.1.1.1.example.com"
    assert out["1.1.1.1"]["reverse_dns_status"] == "OK"
    assert out["2.2.2.2"]["hostname"] == "null"
    assert out["2.2.2.2"]["reverse_dns_status"] == "ERRNO 1"
    assert out["3.3.3.3"]["hostname"] == "null"
    assert out["3.3.3.3"]["reverse_dns_status"] == "Timeout"
    # distinct projection: duplicate 1.1.1.1 resolved once
    calls = sorted(ip for ip, _ in _calls())
    assert calls == ["1.1.1.1", "2.2.2.2", "3.3.3.3"]


def test_resolver_runs_once_per_ip_on_every_core(spark):
    """The resolver stage is latency-bound and its input tiny, so it must
    not collapse to one task: the distinct IPs are hash-partitioned over
    defaultParallelism partitions, and each is still resolved once."""
    from maillogsentinel_spark.operators.rdns import resolve_distinct_ips

    if spark.sparkContext.defaultParallelism < 2:
        pytest.skip("needs local[n] with n >= 2")
    _reset_calls()
    ips = [f"10.0.{i // 8}.{i}" for i in range(64)]
    df = spark.createDataFrame([(ip,) for ip in ips * 5], ["ip"])
    out = resolve_distinct_ips(df, fake_resolver, ttl_seconds=0).collect()
    assert sorted(r["ip"] for r in out) == sorted(ips)
    calls = _calls()
    assert sorted(ip for ip, _ in calls) == sorted(ips)
    assert len({pid for _, pid in calls}) >= 2


def test_enrich_with_table(spark):
    df = spark.createDataFrame([("1.1.1.1",), ("9.9.9.9",)], ["ip"])
    rdns = spark.createDataFrame(
        [("1.1.1.1", "h1", None)], RDNS_SCHEMA
    )
    out = {r["ip"]: r for r in enrich_rdns(df, rdns).collect()}
    assert out["1.1.1.1"]["hostname"] == "h1"
    # IP absent from the table → unresolved failure
    assert out["9.9.9.9"]["hostname"] == "null"
    assert out["9.9.9.9"]["reverse_dns_status"] == "Failed (Unknown)"
