"""Report aggregations — models the reference's golden fixture
(tests/lib/maillogsentinel/test_report.py:96-156): 4 rows, two identical
(user1, 1.1.1.1, host1, OK, US) today, one DNS_ERROR today, one other
date ⇒ total_today=3, top entry count=2, dns failures=1, store total=4."""

import datetime as dt

from maillogsentinel_spark.report.analyze import daily_report_stats
from maillogsentinel_spark.report.render import render_report
from maillogsentinel_spark.schemas import MAIL_EVENTS_SCHEMA

TODAY = dt.date(2025, 9, 28)


def _events(spark):
    t = dt.datetime(2025, 9, 28, 10, 0)
    other = dt.datetime(2025, 9, 27, 9, 0)
    rows = [
        ("srv", t, "1.1.1.1", "user1", "host1", "OK", "US", "1", "ISP1"),
        ("srv", t, "1.1.1.1", "user1", "host1", "OK", "US", "1", "ISP1"),
        ("srv", t, "2.2.2.2", "user2", "null", "Timeout", "N/A", "N/A", "N/A"),
        ("srv", other, "3.3.3.3", "user3", "host3", "OK", "FR", "2", "ISP2"),
    ]
    return spark.createDataFrame(rows, MAIL_EVENTS_SCHEMA)


def test_golden_stats(spark):
    stats = daily_report_stats(_events(spark), TODAY)
    assert stats["total_today"] == 3
    top = stats["top10_today"]
    assert tuple(top[0]) == ("user1", "1.1.1.1", "host1", "US", 2)
    assert stats["total_rev_dns_failures"] == 1
    assert stats["total_events"] == 4
    errs = stats["rev_dns_error_counts"]
    assert [(r[0], r[1]) for r in errs] == [("Timeout", 1)]


def test_render_smoke(spark):
    stats = daily_report_stats(_events(spark), TODAY)
    text = render_report(stats, TODAY, server_name="srv")
    assert "Total authentication failures today: 3" in text
    assert "user1" in text and "Timeout" in text
    assert text.endswith("\n")


def test_topk_tiebreak_deterministic(spark):
    stats = daily_report_stats(_events(spark), TODAY)
    # user2 vs others with count 1 → tie broken by key asc
    users = [tuple(r) for r in stats["top10_usernames"]]
    assert users == [("user1", 2), ("user2", 1)]

    # a NULL user ties at count 1 and sorts first; user4 ties with
    # itself across ip and hostname, ordered as strings ("10." < "5.");
    # a NULL rDNS status is no failure, as with SQL !=
    t = dt.datetime(2025, 9, 28, 11, 0)
    extra = [
        ("srv", t, "9.9.9.9", None, "h9", "OK", "DE", "3", "ISP3"),
        ("srv", t, "5.5.5.5", "user4", "hostb", "OK", "FR", "2", "ISP2"),
        ("srv", t, "5.5.5.5", "user4", "hosta", "OK", "FR", "2", "ISP2"),
        ("srv", t, "10.0.0.1", "user4", "hostz", None, "FR", "2", "ISP2"),
    ]
    ev = _events(spark).union(spark.createDataFrame(extra, MAIL_EVENTS_SCHEMA))
    stats = daily_report_stats(ev, TODAY)
    assert stats["top10_usernames"] == [
        ("user4", 3), ("user1", 2), (None, 1), ("user2", 1)
    ]
    assert stats["top10_today"] == [
        ("user1", "1.1.1.1", "host1", "US", 2),
        (None, "9.9.9.9", "h9", "DE", 1),
        ("user2", "2.2.2.2", "null", "N/A", 1),
        ("user4", "10.0.0.1", "hostz", "FR", 1),
        ("user4", "5.5.5.5", "hosta", "FR", 1),
        ("user4", "5.5.5.5", "hostb", "FR", 1),
    ]
    assert stats["total_rev_dns_failures"] == 1
    assert stats["rev_dns_error_counts"] == [("Timeout", 1)]


def test_top10_bounded_breakdown_not(spark):
    """Each top-k keeps its ten best rows; the rDNS failure breakdown
    keeps every status, as the reference's unbounded breakdown does."""
    t = dt.datetime(2025, 9, 28, 12, 0)
    rows = [
        ("srv", t, "7.7.7.7", f"u{i:02d}", "h", f"E{i:02d}", "DE", "3", "ISP3")
        for i in range(12)
    ]
    ev = _events(spark).union(spark.createDataFrame(rows, MAIL_EVENTS_SCHEMA))
    stats = daily_report_stats(ev, TODAY)
    assert stats["total_today"] == 15
    assert stats["top10_usernames"][:3] == [("user1", 2), ("u00", 1), ("u01", 1)]
    assert len(stats["top10_usernames"]) == 10
    assert stats["top10_today"][1:] == [
        ("u0" + str(i), "7.7.7.7", "h", "DE", 1) for i in range(9)
    ]
    assert stats["rev_dns_error_counts"] == [
        (f"E{i:02d}", 1) for i in range(12)
    ] + [("Timeout", 1)]
    assert stats["total_rev_dns_failures"] == 13


def test_report_leaves_no_cached_data(spark):
    """The report owns no cache: Spark's cache manager holds nothing
    after daily_report_stats returns."""
    spark.catalog.clearCache()
    daily_report_stats(_events(spark), TODAY)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
