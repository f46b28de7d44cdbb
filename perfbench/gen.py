"""Seeded input generator and ground truth for the mail-pipeline benchmark.

Everything the program under test sees is produced here from a seed:
rotated postfix logs (plain and gzip, realistic noise plus the edge cases
of FIXTURES.md section 1), GeoIP range dims (gaps, exact boundaries,
malformed rows) and a deterministic reverse-DNS stub. Alongside each
input the generator keeps the events the program must extract, so the
benchmark can check the store, the rendered report and the SQLite table
against an answer it did not get from the program.

The same seed always yields byte-identical inputs: all randomness comes
from ``numpy.random.default_rng`` keyed by (seed, purpose, index), and
the rDNS stub hashes with ``zlib.crc32`` (``hash()`` is salted per
process, and Spark's Python workers are separate processes).
"""

from __future__ import annotations

import datetime as dt
import gzip
import os
import time
import zlib
from collections import Counter
from dataclasses import dataclass

import numpy as np

YEAR = 2025
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
          "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
SERVERS = ["mx1", "mx2", "smtp-out"]
COUNTRIES = ["US", "CN", "RU", "DE", "FR", "BR", "IN", "VN", "NL", "GB",
             "KR", "JP", "ID", "TR", "UA", "PL", "IT", "ES", "IR", "AR",
             "MX", "CA", "RO", "TH", "PK", "EG", "ZA", "SG", "HK", "TW"]
RDNS_ERRORS = ["ERRNO 1", "ERRNO 2", "ERRNO 3", "ERRNO 4", "Timeout",
               "Failed (Unknown)"]
# Values the SQL mapping reads as NULL; a username equal to one of them
# violates NOT NULL and must land in quarantine, never in SQLite.
NULLISH = {"", "null", "na", "n/a"}
IP_LO, IP_HI = 1 << 24, 224 << 24  # 1.0.0.0 .. 223.255.255.255

# Simulated reverse-DNS round trip per resolver call (seconds): an
# assumed caching resolver on the same host or LAN. A WAN round trip
# (tens of ms) would make every extract wait on rDNS alone.
RDNS_RTT_S = 0.0002


def rng_for(seed: int, *purpose: int | str) -> np.random.Generator:
    key = [seed] + [zlib.crc32(p.encode()) if isinstance(p, str) else p
                    for p in purpose]
    return np.random.default_rng(key)


def ip_str(v: int) -> str:
    return f"{v >> 24}.{(v >> 16) & 255}.{(v >> 8) & 255}.{v & 255}"


# --- reverse DNS ----------------------------------------------------------

def rdns_answer(ip: str) -> tuple[str | None, str | None]:
    """Deterministic (hostname, error) for ``ip``: about 70% resolve."""
    h = zlib.crc32(ip.encode())
    if h % 100 < 70:
        return f"h{h:08x}.dyn.example.net", None
    return None, RDNS_ERRORS[(h >> 8) % len(RDNS_ERRORS)]


class StubResolver:
    """Picklable resolver with a fixed simulated round trip per call.

    ``calls`` is an optional Spark accumulator counting real lookups
    (cache misses of the program's resolver cache)."""

    def __init__(self, rtt_s: float = RDNS_RTT_S, calls=None):
        self.rtt_s = rtt_s
        self.calls = calls

    def __call__(self, ip: str) -> tuple[str | None, str | None]:
        if self.calls is not None:
            self.calls.add(1)
        time.sleep(self.rtt_s)
        return rdns_answer(ip)


# --- geo dims -------------------------------------------------------------

@dataclass
class RangeTable:
    starts: np.ndarray
    ends: np.ndarray
    payload: list[tuple[str, ...]]

    def lookup(self, ips: np.ndarray) -> np.ndarray:
        """Index of the range holding each ip, -1 on a miss."""
        idx = np.searchsorted(self.starts, ips, side="right") - 1
        ok = idx >= 0
        ok &= ips <= self.ends[np.clip(idx, 0, None)]
        return np.where(ok, idx, -1)


def _ranges(rng, n: int, gap_share: float):
    """Sorted, non-overlapping [start, end] ranges with gaps: whole
    ranges dropped, and the tail cut off others."""
    cuts = np.unique(rng.integers(IP_LO, IP_HI, size=n + 1, dtype=np.int64))
    starts, ends = cuts[:-1], cuts[1:] - 1
    keep = rng.random(len(starts)) >= gap_share
    shrink = rng.random(len(starts)) < gap_share
    width = ends - starts
    ends = np.where(shrink, starts + (width * rng.random(len(starts))).astype(np.int64), ends)
    return starts[keep], ends[keep]


MALFORMED_COUNTRY = [
    "start_ip,end_ip,country_code",      # header row
    "1.2.3.0,1.2.3.255,US",              # dotted bounds
    "abc,def,FR",
    "4026531840",                         # one field
    "4026531840,4026531850",             # no payload
    "4026531851,,DE",
    ",4026531860,DE",
    "4026531861,4026531870,",
]
MALFORMED_ASN = [
    "start_ip,end_ip,asn,aso",
    "1.2.3.0,1.2.3.255,64500,DOTTED Example",
    "x,y,64501,NONNUMERIC Example",
    "4026531840,4026531850,64502",       # no aso
    "4026531851,4026531860",
    "4026531861,,64503,EMPTY-END Example",
]


def write_dims(seed: int, out_dir: str, n_country: int, n_asn: int):
    """Write geo_country.csv / geo_asn.csv; return (paths, tables).

    Malformed rows sit in 240.0.0.0/4, which no event IP uses, and are
    interleaved with valid rows so the loader cannot skip them by
    position."""
    os.makedirs(out_dir, exist_ok=True)
    rng = rng_for(seed, "dims")
    cs, ce = _ranges(rng, n_country, 0.08)
    codes = [COUNTRIES[i] for i in rng.integers(0, len(COUNTRIES), len(cs))]
    country = RangeTable(cs, ce, [(c,) for c in codes])

    as_s, as_e = _ranges(rng, n_asn, 0.12)
    # about one range in a thousand swallows the next 64, so a few wide
    # ranges span many range-join buckets
    wide = rng.random(len(as_s)) < 0.001
    keep = np.ones(len(as_s), bool)
    i = 0
    while i < len(as_s):
        if wide[i]:
            j = min(i + 64, len(as_s) - 1)
            as_e[i] = as_e[j]
            keep[i + 1:j + 1] = False
            i = j + 1
        else:
            i += 1
    as_s, as_e = as_s[keep], as_e[keep]
    asn_ids = rng.integers(1, 4000, len(as_s))
    asn = RangeTable(
        as_s, as_e,
        [(str(64512 + a), f"AS{64512 + a} Example Networks {a}") for a in asn_ids],
    )

    paths = {}
    for name, table, bad in (("geo_country.csv", country, MALFORMED_COUNTRY),
                             ("geo_asn.csv", asn, MALFORMED_ASN)):
        rows = [f"{s},{e}," + ",".join(p)
                for s, e, p in zip(table.starts.tolist(), table.ends.tolist(),
                                   table.payload)]
        step = max(1, len(rows) // (len(bad) + 1))
        out = [bad[0]]
        for k, b in enumerate(bad[1:], 1):
            rows.insert(k * step + k, b)
        out.extend(rows)
        path = os.path.join(out_dir, name)
        with open(path, "w", encoding="ascii") as f:
            f.write("\n".join(out) + "\n")
        paths[name] = path
    return paths, country, asn


# --- events and logs ------------------------------------------------------

USERS = (
    ["admin", "info", "test", "user", "postmaster", "sales", "support",
     "webmaster", "contact", "office", "admin@domain.tld", "root", "mail"]
    + [f"user{i}" for i in range(1, 120)]
    + [f"{n}@example.org" for n in ("alice", "bob", "carol", "dave", "erin",
                                     "frank", "grace", "heidi", "ivan")]
    + [f"{n}{i}@mail.example.com" for n in ("john", "mary") for i in range(40)]
)
USER_W = 1.0 / np.arange(1, len(USERS) + 1) ** 1.05
USER_W /= USER_W.sum()

NOISE = [
    "postfix/smtpd[{pid}]: connect from unknown[{ip}]",
    "postfix/smtpd[{pid}]: disconnect from unknown[{ip}] ehlo=1 auth=0/1 quit=1 commands=2/3",
    "postfix/postscreen[{pid}]: CONNECT from [{ip}]:{port} to [192.0.2.10]:25",
    "postfix/postscreen[{pid}]: PASS OLD [{ip}]:{port}",
    "postfix/qmgr[{pid}]: {qid}: from=<bounce@lists.example.net>, size={size}, nrcpt=1 (queue active)",
    "postfix/cleanup[{pid}]: {qid}: message-id=<{qid}.{pid}@example.net>",
    "postfix/smtp[{pid}]: {qid}: to=<bob@example.org>, relay=mx.example.org[{ip}]:25, delay=0.41, delays=0.1/0/0.2/0.1, dsn=2.0.0, status=sent (250 2.0.0 Ok: queued)",
    "amavis[{pid}]: ({pid}-01) Passed CLEAN {{RelayedInbound}}, [{ip}]:{port} <news@example.net> -> <alice@example.org>, Queue-ID: {qid}, Hits: -1.2, size: {size}, 812 ms",
    "dovecot: imap-login: Login: user=<carol@example.org>, method=PLAIN, rip={ip}, lip=192.0.2.10, mpid={pid}, TLS",
    "postfix/anvil[{pid}]: statistics: max connection rate 2/60s for (smtp:{ip}) at Sep 28 00:33:04",
]
SASL = [
    "postfix/smtps/smtpd[{pid}]: warning: unknown[{ip}]: SASL LOGIN authentication failed: UGFzc3dvcmQ6, sasl_username={user}",
    "postfix/submission/smtpd[{pid}]: warning: unknown[{ip}]: SASL PLAIN authentication failed: (reason unavailable), sasl_username={user}",
    "postfix/submission/smtpd[{pid}]: {qid}: client=unknown[{ip}], sasl_method=PLAIN, sasl_username={user}",
]


@dataclass
class Event:
    server: str
    ts: dt.datetime  # minute precision, UTC-naive
    ip: str
    user: str


class LogWriter:
    """Builds syslog lines for one file and records the events they
    must produce. Lines are appended in timestamp order."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.lines: list[str] = []
        self.events: list[Event] = []

    def fill(self, day: dt.date, n_lines: int, sasl_share: float,
             pool: np.ndarray, pool_p: np.ndarray, edge_share: float = 0.002,
             sec_range: tuple[int, int] = (0, 86400)) -> None:
        rng = self.rng
        secs = np.sort(rng.integers(sec_range[0], sec_range[1], n_lines)).tolist()
        kind = rng.random(n_lines).tolist()
        ips = [ip_str(v) for v in pool.tolist()]
        ip_idx = rng.choice(len(pool), size=n_lines, p=pool_p).tolist()
        users = rng.choice(len(USERS), size=n_lines, p=USER_W).tolist()
        servers = rng.integers(0, len(SERVERS), n_lines).tolist()
        tmpl = rng.integers(0, 1 << 30, n_lines).tolist()
        # noise bodies come from a bank drawn from the same pool: the
        # parser sees the same shapes and IPs, at a fraction of the cost
        # of formatting every line
        bank = [
            NOISE[t % len(NOISE)].format(
                pid=100 + t % 999899, ip=ips[j], port=1024 + t % 60000,
                qid=f"{t:08X}", size=t % 90000)
            for t, j in zip(rng.integers(0, 1 << 30, 4096).tolist(),
                            rng.choice(len(pool), size=4096, p=pool_p).tolist())
        ]
        lines, events = self.lines, self.events
        base = dt.datetime(day.year, day.month, day.day)
        day_s = f"{MONTHS[day.month - 1]} {day.day:>2}"
        minutes = [base + dt.timedelta(minutes=m) for m in range(1440)]
        hms = [f"{h:02d}:{m:02d}:" for h in range(24) for m in range(60)]
        for i in range(n_lines):
            sec = secs[i]
            t = tmpl[i]
            server = SERVERS[servers[i]]
            pre = f"{day_s} {hms[sec // 60]}{sec % 60:02d} {server} "
            k = kind[i]
            if k < sasl_share:
                user = USERS[users[i]]
                ip = ips[ip_idx[i]]
                lines.append(pre + SASL[t % 3].format(
                    pid=100 + t % 999899, ip=ip, user=user, qid=f"{t:08X}"))
                events.append(Event(server, minutes[sec // 60], ip, user))
            elif k < sasl_share + edge_share:
                self._edge(t, pre, day, server, ips[ip_idx[i]], minutes[sec // 60])
            else:
                lines.append(pre + bank[t & 4095])

    def _edge(self, t, pre, day, server, ip, ev_ts) -> None:
        """FIXTURES.md section 1 edge cases, with the outcome the
        program documents for each."""
        lines, events = self.lines, self.events
        case = t % 8
        sasl = SASL[0].format(pid=t % 9999, ip=ip, user="{user}")
        if case == 0:
            lines.append("This is not a log line.")
        elif case == 1:  # impossible month/day/time: dropped
            lines.append("XYZ 32 25:99:99 mail " + sasl.format(user="ghost"))
        elif case == 2:  # calendar-invalid day: dropped (documented)
            lines.append(f"Feb 30 10:00:00 {server} " + sasl.format(user="ghost"))
        elif case == 3:  # hour out of range: dropped
            lines.append(f"{MONTHS[day.month - 1]} {day.day:>2} 25:10:00 {server} "
                         + sasl.format(user="ghost"))
        elif case == 4:  # CRLF line ending: username without the CR
            lines.append(pre + sasl.format(user="crlf.user") + "\r")
            events.append(Event(server, ev_ts, ip, "crlf.user"))
        elif case == 5:  # bare CR ends the record; the tail is a garbled line
            lines.append(pre + sasl.format(user="bad\ruser"))
            events.append(Event(server, ev_ts, ip, "bad"))
        elif case == 6:  # padded username: trimmed
            lines.append(pre + sasl.format(user="  padded  "))
            events.append(Event(server, ev_ts, ip, "padded"))
        else:  # null-ish username: a store row that SQL quarantines
            lines.append(pre + sasl.format(user="null"))
            events.append(Event(server, ev_ts, ip, "null"))

    def write(self, path: str) -> int:
        data = ("\n".join(self.lines) + "\n").encode("ascii")
        if path.endswith(".gz"):
            with gzip.open(path, "wb", compresslevel=1) as f:
                f.write(data)
        else:
            with open(path, "wb") as f:
                f.write(data)
        return len(self.lines)


class IpPools:
    """Disjoint IP pools: no pool ever repeats an address an earlier pool
    of the same process handed out, so the program's per-worker rDNS
    cache is cold for every fresh pool."""

    def __init__(self, seed: int):
        self.seed = seed
        self.used: set[int] = set()

    def draw(self, n: int, tag: str, boundaries: np.ndarray | None = None,
             zipf_s: float = 1.1) -> tuple[np.ndarray, np.ndarray]:
        rng = rng_for(self.seed, "pool", tag)
        out: list[int] = []
        if boundaries is not None and len(boundaries):
            # exact range boundaries (start_ip / end_ip values)
            for v in rng.choice(boundaries, size=min(len(boundaries), max(1, n // 50)),
                                replace=False).tolist():
                if v not in self.used and IP_LO <= v < IP_HI:
                    self.used.add(v)
                    out.append(v)
        while len(out) < n:
            for v in rng.integers(IP_LO, IP_HI, n).tolist():
                if v not in self.used:
                    self.used.add(v)
                    out.append(v)
                    if len(out) == n:
                        break
        pool = np.array(out, dtype=np.int64)
        rng.shuffle(pool)
        w = 1.0 / np.arange(1, n + 1) ** zipf_s
        return pool, w / w.sum()


# --- ground truth ---------------------------------------------------------

def truth_rows(events: list[Event], country: RangeTable, asn: RangeTable
               ) -> list[tuple]:
    """Events → expected store rows (server, ts, ip, user, hostname,
    reverse_dns_status, country_code, asn, aso)."""
    if not events:
        return []
    ips = np.array([sum(int(p) << s for p, s in zip(e.ip.split("."), (24, 16, 8, 0)))
                    for e in events], dtype=np.int64)
    ci, ai = country.lookup(ips), asn.lookup(ips)
    rd: dict[str, tuple] = {}
    out = []
    for e, c, a in zip(events, ci.tolist(), ai.tolist()):
        r = rd.get(e.ip)
        if r is None:
            host, err = rdns_answer(e.ip)
            r = rd[e.ip] = (host, "OK") if host else ("null", err)
        cc = country.payload[c][0] if c >= 0 else "N/A"
        an, ao = asn.payload[a] if a >= 0 else ("N/A", "N/A")
        out.append((e.server, e.ts, e.ip, e.user, r[0], r[1], cc, an, ao))
    return out


def _top(counter: Counter, k: int | None = 10) -> list[tuple]:
    items = sorted(counter.items(), key=lambda kv: (-kv[1], kv[0]))
    if k:
        items = items[:k]
    return [(*key, n) if isinstance(key, tuple) else (key, n) for key, n in items]


def report_truth(rows: list[tuple], day: dt.date) -> dict:
    """The stats dict ``report.daily_report_stats`` must produce for
    ``day``, already collected, with the count-desc / keys-asc order."""
    today = [r for r in rows if r[1].date() == day]
    fails = [r for r in today if r[5] != "OK"]
    return {
        "total_today": len(today),
        "top10_today": _top(Counter((r[3], r[2], r[4], r[6]) for r in today)),
        "top10_usernames": _top(Counter(r[3] for r in today)),
        "top10_countries": _top(Counter(r[6] for r in today)),
        "top10_aso": _top(Counter(r[8] for r in today)),
        "top10_asn": _top(Counter(r[7] for r in today)),
        "total_rev_dns_failures": len(fails),
        "rev_dns_error_counts": _top(Counter(r[5] for r in fails), k=None),
        "total_events": len(rows),
    }


def sql_truth(rows: list[tuple]) -> tuple[int, int]:
    """(rows SQLite must hold, rows the mapping must quarantine)."""
    bad = sum(1 for r in rows if r[3].strip().lower() in NULLISH)
    return len(rows) - bad, bad
