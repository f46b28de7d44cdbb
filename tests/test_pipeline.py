"""End-to-end: raw lines → parse → rDNS → geo → events (SURVEY §3.1)."""

from pyspark.sql import functions as F

from maillogsentinel_spark.plans.pipeline import build_events
from maillogsentinel_spark.schemas import GEO_ASN_SCHEMA, GEO_COUNTRY_SCHEMA
from maillogsentinel_spark.sources.logs import read_logs

LINES = [
    "Sep 28 00:33:04 srv postfix/smtps/smtpd[1]: warning: unknown[1.0.0.50]: SASL LOGIN authentication failed, sasl_username=admin@x.td",
    "Sep 28 00:34:04 srv postfix/smtps/smtpd[2]: warning: unknown[9.9.9.9]: SASL LOGIN authentication failed, sasl_username=root",
    "Sep 28 00:35:04 srv postfix/qmgr[3]: BEEF: removed",
]


def _resolver(ip):
    if ip == "1.0.0.50":
        return "fifty.example.net", None
    return None, "Timeout"


def test_full_pipeline(spark):
    lines = spark.createDataFrame([(line,) for line in LINES], ["value"])
    geo_c = spark.createDataFrame([(16777216, 16777471, "AU")], GEO_COUNTRY_SCHEMA)
    geo_a = spark.createDataFrame(
        [(16777216, 16777471, "13335", "CLOUDFLARENET")], GEO_ASN_SCHEMA
    )
    ev = build_events(lines, 2025, _resolver, geo_c, geo_a)
    rows = {r["ip"]: r for r in ev.collect()}
    assert set(rows) == {"1.0.0.50", "9.9.9.9"}
    hit = rows["1.0.0.50"]
    assert (hit["hostname"], hit["reverse_dns_status"]) == ("fifty.example.net", "OK")
    assert (hit["country_code"], hit["asn"], hit["aso"]) == ("AU", "13335", "CLOUDFLARENET")
    miss = rows["9.9.9.9"]
    assert (miss["hostname"], miss["reverse_dns_status"]) == ("null", "Timeout")
    assert (miss["country_code"], miss["asn"], miss["aso"]) == ("N/A", "N/A", "N/A")


def test_pipeline_without_geo(spark):
    lines = spark.createDataFrame([(LINES[0],)], ["value"])
    ev = build_events(lines, 2025, _resolver)
    [r] = ev.collect()
    assert r["country_code"] == "N/A"
    assert ev.columns == [
        "server", "ts", "ip", "user", "hostname",
        "reverse_dns_status", "country_code", "asn", "aso",
    ]


def _paths_to(node, match, path=()):
    """Node-name paths from the root of a physical plan down to each node
    for which ``match(node)`` holds (an unexecuted adaptive plan is
    walked through its current physical plan)."""
    if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        node = node.executedPlan()
    path = path + (node.nodeName(),)
    found = [path] if match(node) else []
    children = node.children()
    for i in range(children.size()):
        found += _paths_to(children.apply(i), match, path)
    return found


def test_filter_pushed_below_joins(spark):
    """The ``sasl_username=`` filter must sit below the round-robin
    exchange and both joins in the physical plan, so the shuffle and the
    enrichment see only candidate lines (Catalyst pushdown — SURVEY §4
    row 1)."""
    lines = spark.createDataFrame([(LINES[0],)], ["value"])
    geo_c = spark.createDataFrame([(0, 10, "AA")], GEO_COUNTRY_SCHEMA)
    geo_a = spark.createDataFrame([(0, 10, "1", "A")], GEO_ASN_SCHEMA)
    ev = build_events(lines, 2025, _resolver, geo_c, geo_a)
    plan = ev._jdf.queryExecution().executedPlan()

    def is_sasl_filter(node):
        return (node.nodeName() == "Filter"
                and "Contains(" in node.condition().toString()
                and "sasl_username=" in node.condition().toString())

    joins = _paths_to(plan, lambda n: "Join" in n.nodeName())
    filters = _paths_to(plan, is_sasl_filter)
    assert filters
    for path in filters:
        # directly under the exchange: the shuffle carries candidates only
        assert path[-2] == "Exchange", path
    # the fact side's filter is below every join (rDNS, country, ASN)
    assert max(p.count("BroadcastHashJoin") for p in filters) == len(joins) == 3


def test_extract_reads_log_once(spark, tmp_path):
    """With as many log files as cores, the rDNS distinct-IP branch and
    the main branch read the log through one shared exchange: the final
    adaptive plan scans the text once."""
    n_files = spark.sparkContext.defaultParallelism
    for i in range(n_files):
        (tmp_path / f"mail{i}.log").write_text("\n".join(LINES) + "\n")
    lines = read_logs(spark, sorted(str(p) for p in tmp_path.iterdir()))
    ev = build_events(lines, 2025, _resolver)
    assert len(ev.collect()) == 2 * n_files
    plan = ev._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    assert final.count("FileScan text") == 1, final
