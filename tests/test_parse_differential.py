"""Differential parity: our Spark parser vs the REFERENCE parser on
randomized adversarial input (seeded — fully deterministic).

For every generated line both engines must agree on (a) whether the
line yields an event at all and (b) every output field. This covers the
drop semantics the golden-dataset test can't reach: garbled prefixes,
bad months/days, missing sasl_username, newline/CR injection, weird
spacing, multiple IPs per line.

The reference comparison skips when the reference tree is absent (the
repo stays standalone); the comparison against the two-regex oracle
below always runs.
"""

import datetime as dt
import logging
import os
import random
import re
import sys

import pytest

from maillogsentinel_spark.plans.pipeline import build_events

REF_LIB = "/root/reference/lib"

needs_reference = pytest.mark.skipif(
    not os.path.isdir(REF_LIB), reason="reference tree not available"
)


def _resolver(ip):
    last = int(ip.rsplit(".", 1)[1]) % 10
    if last == 0:
        return None, "Timeout"
    return f"host-{ip}.example.com", None


def _ref_resolver(ip, logger):
    return _resolver(ip)


def _gen_lines(seed: int, n: int) -> list[str]:
    rng = random.Random(seed)
    months = ["Jan", "Feb", "Mar", "Xxx", "May", "janv", "Dec", "Sep"]
    users = ["alice", "bob@x.td", "we ird", "a,b", "x" * 40, ""]
    out = []
    for _ in range(n):
        month = rng.choice(months)
        day = rng.choice(["1", "09", "28", "31", "99", "7", "123"])
        time = rng.choice(["00:33:04", "23:59:59", "7:3:4", "aa:bb:cc", "10:00:00"])
        server = rng.choice(["srv", "mx-1.prod", "s"])
        ip = ".".join(str(rng.randint(0, 299)) for _ in range(4))
        user = rng.choice(users)
        kind = rng.random()
        if kind < 0.5:
            line = (
                f"{month} {day} {time} {server} postfix/smtpd[{rng.randint(1, 9999)}]: "
                f"warning: unknown[{ip}]: SASL LOGIN authentication failed, "
                f"sasl_username={user},"
            )
        elif kind < 0.7:
            line = f"{month} {day} {time} {server} postfix/qmgr[1]: {rng.randint(0, 999)}: removed"
        elif kind < 0.8:
            line = f"garbage {ip} sasl_username={user}"
        elif kind < 0.9:
            line = (
                f"{month}  {day}   {time}  {server}  noise [{ip}] second ip "
                f"{'.'.join(str(rng.randint(0, 255)) for _ in range(4))} "
                f"sasl_username={user}"
            )
        else:
            line = ""
        out.append(line)
    return out


@needs_reference
def test_differential_vs_reference_parser(spark):
    sys.path.insert(0, REF_LIB)
    from maillogsentinel.log_utils import _parse_log_line

    log = logging.getLogger("diffnull")
    log.addHandler(logging.NullHandler())

    lines = _gen_lines(seed=20260813, n=600)

    def real_date(date_s: str) -> bool:
        # documented divergence (operators/parse.py): the reference never
        # calendar-validates the day ("99/01/2025" passes through as a
        # string); our typed timestamp drops impossible dates
        try:
            dt.datetime.strptime(date_s, "%d/%m/%Y %H:%M")
            return True
        except ValueError:
            return False

    expected = []
    for line in lines:
        r = _parse_log_line(line, 2025, log, None, _ref_resolver)
        if r and real_date(r["date_s"]):
            expected.append(
                (
                    r["server"],
                    r["date_s"],
                    r["ip"],
                    r["user"],
                    r["hostn"],
                    r["reverse_dns_status"],
                )
            )

    from pyspark.sql import functions as F

    df = spark.createDataFrame([(ln,) for ln in lines], ["value"])
    got = [
        tuple(r)
        for r in build_events(df, 2025, _resolver)
        .select(
            "server",
            F.date_format("ts", "dd/MM/yyyy HH:mm").alias("date_s"),
            "ip",
            "user",
            "hostname",
            "reverse_dns_status",
        )
        .collect()
    ]
    assert sorted(got) == sorted(expected)
    assert len(expected) > 50  # the generator actually produced events


# The two-step parse the single Spark regex replaced: match the syslog
# prefix, then search its remainder (group 5) for the first IPv4 that is
# followed by ``sasl_username=`` — the reference's own order
# (log_utils.py:36-42,86-89).
ORACLE_SYSLOG_RE = r"(?s)^([A-Z][a-z]{2})\s+(\d{1,2})\s+(\d{2}:\d{2}:\d{2})\s+(\S+)\s+(.*)$"
ORACLE_SASL_RE = r"(?s)(\d{1,3}(?:\.\d{1,3}){3}).*?sasl_username=([^,]+)"
ORACLE_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
                 "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]

ADVERSARIAL = [
    # an IP in the server token is not the client IP
    "Mar 15 10:00:00 10.0.0.1 postfix/smtpd[1]: warning: unknown[1.2.3.4]: f, sasl_username=a",
    "Mar 15 10:00:00 10.0.0.1 sasl_username=a",
    # the only IP comes after the literal: no match
    "Mar 15 10:00:00 srv postfix/smtpd[1]: sasl_username=1.2.3.4",
    "Mar 15 10:00:00 srv postfix/smtpd[1]: sasl_username=1.2.3.4 sasl_username=b",
    # a digit run longer than an octet: the IP starts inside it
    "Mar 15 10:00:00 srv x 1234.5.6.7 sasl_username=c",
    "Mar 15 10:00:00 srv 1.2.3.4.5.6 sasl_username=c",
    # two IPs: the first one followed by the literal wins
    "Mar 15 10:00:00 srv from 8.8.8.8 via 9.9.9.9: sasl_username=d,",
    # the literal is case-sensitive
    "Mar 15 10:00:00 srv unknown[1.2.3.4]: Sasl_username=e",
    "Mar 15 10:00:00 srv unknown[1.2.3.4]: SASL_USERNAME=e",
    # CR/LF next to, inside and after the literal
    "Mar 15 10:00:00 srv unknown[1.2.3.4]:\r\nsasl_username=f\r\n",
    "Mar 15 10:00:00 srv unknown[1.2.3.4]: sasl_username=\r\nf",
    "Mar 15 10:00:00 srv unknown[1.2.3.4]: sasl_\nusername=f",
    "Mar 15 10:00:00 srv unknown[1.2.3.4]: sasl_username=g\rh\n, more",
    "Mar 15 10:00:00 srv\nunknown[1.2.3.4]: sasl_username=i",
    # tab separators and runs of mixed whitespace
    "Mar\t15\t10:00:00\tsrv\tunknown[1.2.3.4]:\tsasl_username=j",
    "Jun \t 1 \t00:00:45 \t srv\t \t1.2.3.4\tsasl_username=\tk\t",
    # the IP right after the server, and glued to the literal
    "Mar 15 10:00:00 srv 1.2.3.4sasl_username=l",
    # empty and comma-only users, user ending the line
    "Mar 15 10:00:00 srv unknown[1.2.3.4]: sasl_username=,",
    "Mar 15 10:00:00 srv unknown[1.2.3.4]: sasl_username=",
    "Mar 15 10:00:00 srv unknown[1.2.3.4]: sasl_username=, sasl_username=m",
    "Mar 15 10:00:00 srv unknown[1.2.3.4]: sasl_username=  spaced  ,",
    # no remainder after the server, or whitespace only
    "Mar 15 10:00:00 srv",
    "Mar 15 10:00:00 srv   ",
    # calendar edges: leap day, day 0, hour 24, minute 60, seconds 99
    "Feb 29 10:00:00 srv unknown[1.2.3.4]: sasl_username=n",
    "Feb 30 10:00:00 srv unknown[1.2.3.4]: sasl_username=n",
    "Apr 31 10:00:00 srv unknown[1.2.3.4]: sasl_username=n",
    "Mar 00 10:00:00 srv unknown[1.2.3.4]: sasl_username=n",
    "Mar 15 24:00:00 srv unknown[1.2.3.4]: sasl_username=n",
    "Mar 15 23:60:00 srv unknown[1.2.3.4]: sasl_username=n",
    "Dec 31 23:59:99 srv unknown[1.2.3.4]: sasl_username=n",
    # prefix shapes the anchored regex rejects
    " Mar 15 10:00:00 srv unknown[1.2.3.4]: sasl_username=o",
    "MAR 15 10:00:00 srv unknown[1.2.3.4]: sasl_username=o",
    "Mar 150 10:00:00 srv unknown[1.2.3.4]: sasl_username=o",
    "Mar 15 10:00 srv unknown[1.2.3.4]: sasl_username=o",
]


def _oracle(line: str, year: int):
    """(server, ts, ip, user) by the two-step parse, or None."""
    m = re.match(ORACLE_SYSLOG_RE, line)
    if not m:
        return None
    s = re.search(ORACLE_SASL_RE, m.group(5))
    if not s or m.group(1) not in ORACLE_MONTHS:
        return None
    try:
        ts = dt.datetime(year, ORACLE_MONTHS.index(m.group(1)) + 1,
                         int(m.group(2)), int(m.group(3)[:2]),
                         int(m.group(3)[3:5]))
    except ValueError:
        return None
    # Spark's trim removes spaces only, after CR/LF became spaces.
    user = re.sub(r"[\r\n]", " ", s.group(2)).strip(" ")
    return (m.group(4), ts, s.group(1), user)


def test_parse_matches_two_regex_oracle(spark):
    """The literal pre-filter plus one folded regex keeps exactly the
    rows, and the field values, of the two-regex parse."""
    from maillogsentinel_spark.operators.parse import parse_sasl_lines

    lines = _gen_lines(seed=20261019, n=3000) + ADVERSARIAL
    df = spark.createDataFrame([(ln,) for ln in lines], ["value"])
    for year in (2024, 2025):
        expected = [r for r in (_oracle(ln, year) for ln in lines) if r]
        got = [tuple(r) for r in parse_sasl_lines(df, year=year).collect()]
        assert sorted(got) == sorted(expected), year
        assert len(expected) > 300
