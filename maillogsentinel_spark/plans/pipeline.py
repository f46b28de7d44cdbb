"""End-to-end extraction pipeline — the reference's default run
(/root/reference/bin/maillogsentinel.py:622-746 traced in SURVEY §3.1),
as one declarative Catalyst plan:

    read logs → parse/filter (P1-P4) → rDNS (J2) → geo (J1+J3) → events

Catalyst keeps the selective SASL regex filter below both joins (they
only depend on `ip`), so enrichment work is proportional to matched
lines — the same ordering the reference hand-codes
(log_utils.py:82-89 before :103-123), but verified by `.explain()`
instead of promised by code layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.enrich import enrich_geo
from ..operators.parse import parse_sasl_lines
from ..operators.rdns import ResolverFn, enrich_rdns


def build_events(
    lines: DataFrame,
    year: int,
    resolver: "ResolverFn | DataFrame",
    geo_country: DataFrame | None = None,
    geo_asn: DataFrame | None = None,
) -> DataFrame:
    """raw log lines → canonical mail-events DataFrame.

    ``geo_country``/``geo_asn`` None → enrichment columns default to
    'N/A', which is a legal reference state (no ip_info_mgr ⇒ 'N/A',
    log_utils.py:115-123).

    ``resolver`` is called once per distinct IP each time the result is
    evaluated; persist the result if it feeds more than one action.
    """
    from pyspark.sql import functions as F

    # A mail deployment's input is typically ONE fat log (plus a few
    # rotations) — 2-3 scan splits for a 100-200 MB plain file, exactly
    # ONE for any .gz (gzip is never splittable) — so the per-line
    # regex parse and the rDNS stage would run on 2-3 of N cores.
    # Round-robin repartition restores parallelism, gated on the actual
    # scan split count so a many-files ingest (the at-scale layout)
    # skips the shuffle entirely; the shuffled payload is raw lines,
    # which the parse immediately collapses to matched events.
    sc = lines.sparkSession.sparkContext
    cpus = sc.defaultParallelism
    if lines.rdd.getNumPartitions() < max(2, cpus // 2):
        lines = lines.repartition(cpus)

    ev = parse_sasl_lines(lines, year=year)
    ev = enrich_rdns(ev, resolver)
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
