"""End-to-end extraction pipeline — the reference's default run
(/root/reference/bin/maillogsentinel.py:622-746 traced in SURVEY §3.1),
as one declarative Catalyst plan:

    read logs → parse/filter (P1-P4) → rDNS (J2) → geo (J1+J3) → events

Catalyst keeps the selective SASL filters (the ``sasl_username=``
literal, then the line regex) below the round-robin exchange and both
joins (they only depend on `ip`), so the shuffle and the enrichment
work are proportional to matched lines — the same ordering the
reference hand-codes (log_utils.py:82-89 before :103-123), but verified
by the physical plan (tests/test_pipeline.py) instead of promised by
code layout.
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

    # Round-robin over all cores: a single .gz (never splittable) or one
    # fat plain log is otherwise parsed and resolved on 1-3 of them.
    # Catalyst pushes the parse's filters below the exchange, so it
    # carries only candidate lines, and the rDNS distinct-IP branch
    # reuses the same exchange, so the log is read once.
    lines = lines.repartition(lines.sparkSession.sparkContext.defaultParallelism)
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
