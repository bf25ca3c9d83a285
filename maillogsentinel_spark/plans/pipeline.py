"""End-to-end extraction pipeline — the reference's default run
(/root/reference/bin/maillogsentinel.py:622-746 traced in SURVEY §3.1),
as one declarative Catalyst plan:

    read logs → parse/filter (P1-P4) → rDNS (J2) → geo (J1+J3) → events

Catalyst keeps the selective SASL regex filter below both joins (they
only depend on `ip`), so enrichment work is proportional to matched
lines — the same ordering the reference hand-codes
(log_utils.py:82-89 before :103-123), but verified by `.explain()`
instead of promised by code layout.

The plan is built in two halves: ``parse_events`` (spread gate + SASL
parse) and ``enrich_events`` (rDNS, geo, final column order);
``build_events`` is their composition. The split exists because the
rDNS dim branch reads its distinct IPs from the same parsed frame the
join reads: composed lazily, every consumer re-scans and re-parses the
logs. A caller that materializes the parsed half between the two
(streaming ingest persists it per micro-batch) pays the scan and the
regex once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.enrich import enrich_geo
from ..operators.parse import parse_sasl_lines
from ..operators.rdns import ResolverFn, enrich_rdns


def parse_events(lines: DataFrame, year: int) -> DataFrame:
    """raw log lines → parsed SASL-failure events (server, ts, ip, user)."""
    # A mail deployment's input is typically ONE fat log (plus a few
    # rotations) — 2-3 scan splits for a 100-200 MB plain file, exactly
    # ONE for any .gz (gzip is never splittable) — so the per-line
    # regex parse and the rDNS stage would run on 2-3 of N cores.
    # Round-robin repartition restores parallelism, gated on the actual
    # scan split count so a many-files ingest (the at-scale layout)
    # skips the shuffle entirely; the shuffled payload is raw lines,
    # which the parse immediately collapses to matched events.
    cpus = lines.sparkSession.sparkContext.defaultParallelism
    if lines.rdd.getNumPartitions() < max(2, cpus // 2):
        lines = lines.repartition(cpus)
    return parse_sasl_lines(lines, year=year)


def enrich_events(
    parsed: DataFrame,
    resolver: "ResolverFn | DataFrame",
    geo_country: DataFrame | None = None,
    geo_asn: DataFrame | None = None,
    rdns_ttl_seconds: float = 3600.0,
    rdns_max_cache: int = 100_000,
) -> DataFrame:
    """parsed events → canonical mail-events DataFrame (rDNS + geo).

    ``geo_country``/``geo_asn`` None → enrichment columns default to
    'N/A', which is a legal reference state (no ip_info_mgr ⇒ 'N/A',
    log_utils.py:115-123).

    ``rdns_ttl_seconds``/``rdns_max_cache`` mirror the reference's
    [dns_cache] INI knobs (config.py:36-40); ttl 0 disables caching.
    """
    from pyspark.sql import functions as F

    ev = enrich_rdns(
        parsed, resolver, ttl_seconds=rdns_ttl_seconds, max_cache=rdns_max_cache
    )
    if geo_country is not None and geo_asn is not None:
        ev = enrich_geo(ev, geo_country, geo_asn)
    else:
        ev = (
            ev.withColumn("country_code", F.lit("N/A"))
            .withColumn("asn", F.lit("N/A"))
            .withColumn("aso", F.lit("N/A"))
        )
    return ev.select(
        "server", "ts", "ip", "user", "hostname",
        "reverse_dns_status", "country_code", "asn", "aso",
    )


def build_events(
    lines: DataFrame,
    year: int,
    resolver: "ResolverFn | DataFrame",
    geo_country: DataFrame | None = None,
    geo_asn: DataFrame | None = None,
    rdns_ttl_seconds: float = 3600.0,
    rdns_max_cache: int = 100_000,
) -> DataFrame:
    """raw log lines → canonical mail-events DataFrame:
    ``enrich_events(parse_events(lines, year), ...)``."""
    return enrich_events(
        parse_events(lines, year), resolver, geo_country, geo_asn,
        rdns_ttl_seconds=rdns_ttl_seconds, rdns_max_cache=rdns_max_cache,
    )
