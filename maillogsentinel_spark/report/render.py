"""Fixed-width text report renderer.

Re-implements the *shape* of the reference's email report
(/root/reference/lib/maillogsentinel/report.py:286-418 and the golden
example docs/dataset/sample_email_report_output.txt): data-dependent
column widths, ranked top-10 sections, failure breakdown, totals footer.
Pure driver-side Python over already-collected agg rows — rendering is
not a distributed concern.
"""

from __future__ import annotations

import datetime as dt


def _section(title: str, rows: list[tuple], headers: list[str]) -> list[str]:
    out = [title]
    if not rows:
        out.append("  (none)")
        return out
    str_rows = [[str(v) for v in r] for r in rows]
    widths = [
        max(len(h), *(len(r[i]) for r in str_rows)) for i, h in enumerate(headers)
    ]
    fmt = "  " + "  ".join(f"{{:<{w}}}" for w in widths)
    out.append(fmt.format(*headers))
    for r in str_rows:
        out.append(fmt.format(*r))
    return out


def render_report(
    stats: dict, report_date: dt.date | str, server_name: str = "mailserver"
) -> str:
    """stats: the output of daily_report_stats (ints and lists of
    ``(*keys, count)`` tuples).

    ``report_date`` accepts a ``datetime.date`` or the reference's
    ``dd/mm/YYYY`` string form (report.py:263)."""
    if isinstance(report_date, str):
        report_date = dt.datetime.strptime(report_date, "%d/%m/%Y").date()

    lines: list[str] = []
    lines.append(f"MailLogSentinel-Spark report for {server_name}")
    lines.append(f"Date: {report_date.strftime('%d/%m/%Y')}")
    lines.append("")
    lines.append(f"Total authentication failures today: {stats['total_today']}")
    lines.append("")
    lines += _section(
        "Top 10 failed authentications today (user, ip, hostname, country):",
        stats["top10_today"],
        ["user", "ip", "hostname", "country", "count"],
    )
    lines.append("")
    lines += _section("Top 10 usernames:", stats["top10_usernames"], ["user", "count"])
    lines.append("")
    lines += _section(
        "Top 10 countries:", stats["top10_countries"], ["country", "count"]
    )
    lines.append("")
    lines += _section("Top 10 ASO:", stats["top10_aso"], ["aso", "count"])
    lines.append("")
    lines += _section("Top 10 ASN:", stats["top10_asn"], ["asn", "count"])
    lines.append("")
    lines.append(
        f"Reverse DNS failures today: {stats['total_rev_dns_failures']}"
    )
    lines += _section(
        "Breakdown:", stats["rev_dns_error_counts"], ["status", "count"]
    )
    lines.append("")
    lines.append(f"Total events in store: {stats['total_events']}")
    return "\n".join(lines) + "\n"


def collect_compat_stats(stats: dict) -> dict:
    """Adapt daily_report_stats' dict (ints and tuple lists) to the
    reference renderer's shapes (report.py:97-108)."""
    return {
        "total_today": stats["total_today"],
        "top10_today": [
            ((u, ip, h, c), n) for u, ip, h, c, n in stats["top10_today"]
        ],
        "top10_usernames": stats["top10_usernames"],
        "top10_countries": stats["top10_countries"],
        "top10_aso": stats["top10_aso"],
        "top10_asn": stats["top10_asn"],
        "total_rev_dns_failures": stats["total_rev_dns_failures"],
        "rev_dns_error_counts": stats["rev_dns_error_counts"],
        "csv_lines_str": str(stats["total_events"]),
        "csv_size_k_str": stats.get("csv_size_k_str", "0.0 KB"),
    }


def render_report_compat(
    report_stats: dict,
    *,
    script_name: str = "MailLogSentinel",
    script_version: str = "v1.0",
    extraction_freq: str = "hourly",
    now_stamp: str,
    ipaddr: str,
    fqdn: str,
    csv_filename: str = "maillogsentinel.csv",
) -> str:
    """Byte-compatible re-implementation of the reference email body
    (report.py:286-427): boxed header, numbered data-dependent-width
    top-10 sections with "N times" suffixes, DNS failure breakdown,
    CSV footer. ``now_stamp`` is injected (never now() — SURVEY §7
    hard-part 3); the reference stamps datetime.now() at report.py:286.

    ``report_stats`` uses the reference's collected shapes — adapt our
    stats dict with collect_compat_stats().
    """
    header_content = [
        f"{script_name} {script_version}",
        f"Extraction interval : {extraction_freq}",
        f"Report at {now_stamp}",
        f"Server: {ipaddr} ({fqdn})",
    ]
    max_len = max(len(s) for s in header_content)
    border = "#" * (max_len + 6)
    out = [border]
    out += [f"### {s.ljust(max_len)} ###" for s in header_content]
    out += [border, ""]

    body: list[str] = []
    body.append(f"Total attempts today: {report_stats['total_today']}")
    body.append("")
    body.append("Top 10 failed authentications today:")
    top10 = report_stats.get("top10_today", [])
    if top10:
        wu, wi, wh, wc, wn = 4, 2, 8, 2, 5
        for (user, ip, hostn, country), cnt in top10:
            wu = max(wu, len(user))
            wi = max(wi, len(ip))
            wh = max(wh, len(hostn))
            wc = max(wc, len(country if country else ""))
            wn = max(wn, len(str(cnt)))
        for idx, ((user, ip, hostn, country), cnt) in enumerate(top10, 1):
            cs = country if country else "N/A"
            body.append(
                f"  {idx:>2d}. {user:<{wu}}  {ip:<{wi}}  "
                f"{hostn:<{wh}}  {cs:<{wc}}  "
                f"{str(cnt):>{wn}} times"
            )
    else:
        body.append("  (no entries for today)")

    body.append("")
    body.append("Top 10 Usernames today:")
    names = report_stats.get("top10_usernames", [])
    if names:
        wu, wn = 4, 5
        for username, count in names:
            wu = max(wu, len(username))
            wn = max(wn, len(str(count)))
        for idx, (username, count) in enumerate(names, 1):
            body.append(
                f"  {idx:>2d}. {username:<{wu}}  {str(count):>{wn}} times"
            )
    else:
        body.append("  (no specific username stats for today)")

    for cat_key, cat_title in [
        ("top10_countries", "Top 10 countries today:"),
        ("top10_aso", "Top 10 ASO today:"),
        ("top10_asn", "Top 10 ASN today:"),
    ]:
        body.append("")
        body.append(cat_title)
        items = report_stats.get(cat_key, [])
        if items:
            wi = len(cat_title.split()[2])
            wn = 5
            for item, count in items:
                wi = max(wi, len(item))
                wn = max(wn, len(str(count)))
            for idx, (item, count) in enumerate(items, 1):
                body.append(
                    f"  {idx:>2d}. {item:<{wi}}  {str(count):>{wn}} times"
                )
        else:
            body.append(f"  (no {cat_title.split()[2].lower()} stats for today)")

    body.append("")
    body.append("--- Reverse DNS Lookup Failure Summary ---")
    nfail = report_stats.get("total_rev_dns_failures", 0)
    errs = report_stats.get("rev_dns_error_counts", [])
    body.append(f"Total failed reverse lookups today: {nfail}")
    if nfail > 0 and errs:
        body.append("Breakdown by error type:")
        we = max(len(e) for e, _ in errs)
        wn = max(len(str(c)) for _, c in errs)
        for err, count in errs:
            body.append(f"  {err:<{we}} : {str(count):>{wn}}")
    else:
        body.append(
            "  (No reverse DNS lookup failures recorded for today or "
            "breakdown not available)"
        )

    body.append("")
    body.append(f"Total CSV file size: {report_stats['csv_size_k_str']}")
    body.append(f"Total CSV lines:     {report_stats['csv_lines_str']}")
    body.append("")
    body.append(f"Please see attached: {csv_filename}")
    body.append("")
    body.append(
        "For more details and documentation, visit: "
        "https://github.com/monozoide/MailLogSentinel/blob/main/README.md"
    )
    return "\n".join(out + body) + "\n"
