"""Daily-report aggregations — reference A1–A10 (the reference's
report.py:60-218, one Python-dict hash-agg pass over the whole CSV).

Spark shape: one ``GROUPING SETS`` count of the day (one scan, one
shuffle), ranked per set by count desc, then keys asc with NULL first
(in place of the reference's stable-sort tie order, report.py:176-193).
Only each top-10's ten rows and the rDNS status rows reach the driver.
On the store the day filter is on the ``event_date`` partition column.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_KEYS = ("user", "ip", "hostname", "country_code", "asn", "aso", "reverse_dns_status")
_SETS = {  # report.py:97-108 stats key -> grouping set, in _KEYS order
    "top10_today": ("user", "ip", "hostname", "country_code"),  # A2
    "top10_usernames": ("user",),  # A3
    "top10_countries": ("country_code",),  # A4
    "top10_aso": ("aso",),  # A5
    "top10_asn": ("asn",),  # A6
    "status": ("reverse_dns_status",),  # A1, A7, A8: every row, unbounded
}
_GID = {  # Spark's grouping_id(): a bit per key not in the set, first key highest
    name: sum(1 << (len(_KEYS) - 1 - i) for i, c in enumerate(_KEYS) if c not in cols)
    for name, cols in _SETS.items()
}


def day_slice(events: DataFrame, report_date: dt.date) -> DataFrame:
    """``report_date``'s events, by ``event_date`` when the frame has it."""
    day = F.col("event_date") if "event_date" in events.columns else F.to_date("ts")
    return events.filter(day == F.lit(report_date))


def daily_report_stats(events: DataFrame, report_date: dt.date | str) -> dict:
    """All report aggregations for one day: ints and ``(*keys, count)``
    lists. ``report_date`` is a ``datetime.date`` or the reference's
    ``dd/mm/YYYY`` "today" string (report.py:263). Keys mirror
    report.py:97-108's stats dict."""
    if isinstance(report_date, str):
        report_date = dt.datetime.strptime(report_date, "%d/%m/%Y").date()
    rank = Window.partitionBy("gid").orderBy(F.desc("count"), *map(F.asc, _KEYS))
    rows = sorted(
        day_slice(events, report_date)
        .groupingSets(list(_SETS.values()), *_KEYS)
        .agg(F.count("*").alias("count"), F.grouping_id().alias("gid"))
        .withColumn("rn", F.row_number().over(rank))
        .filter((F.col("rn") <= 10) | (F.col("gid") == _GID["status"]))
        .collect(),
        key=lambda r: r["rn"],
    )
    out = {
        k: [(*(r[c] for c in _SETS[k]), r["count"]) for r in rows if r["gid"] == g]
        for k, g in _GID.items()
    }
    status = out.pop("status")
    # A7/A8 (report.py:166-169,191-193): a NULL status is no failure, as in SQL
    fails = [(s, n) for s, n in status if s not in (None, "OK")]
    return {
        "total_today": sum(n for _, n in status),  # A1 (report.py:153)
        **out,
        "total_rev_dns_failures": sum(n for _, n in fails),  # A7
        "rev_dns_error_counts": fails,  # A8: unbounded, count desc
        "total_events": events.count(),  # A9 (csv_lines, report.py:132)
    }
