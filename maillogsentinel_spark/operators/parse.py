"""Syslog SASL-failure parsing (reference operators P1–P4).

Reference semantics (all in /root/reference/lib/maillogsentinel/log_utils.py):
- P1 syslog prefix  (log_utils.py:36-41):  ``^(Mon) (d|dd) (HH:MM:SS) (server)``
  — non-matching lines are dropped.
- P2 SASL predicate (log_utils.py:42,86-89): first IPv4 in the remainder
  followed (non-greedily) by ``sasl_username=<up-to-comma>`` — lines
  without it are dropped. This is THE selective predicate; it runs before
  any enrichment, and Catalyst keeps it below the joins.
- P3 date synthesis (log_utils.py:21-34,92-96): month-abbr map + zero-pad
  day + HH:MM (seconds truncated) + an *injected* year (parser.py:97 uses
  wall clock; we take it as a parameter for reproducibility).
- P4 sanitization  (log_utils.py:100-101,109-111): strip; CR/LF → space in
  the username.

Lines without the literal ``sasl_username=``, which every P2 match
needs, are dropped before any regex runs (Sparser's raw-text pre-filter,
VLDB 2018). P1 and P2 are one anchored regex whose lazy ``.*?`` tries
the remainder's positions in the order the reference's ``re.search`` does.

Everything is built-in expressions — one WholeStageCodegen span, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# P1 + P2. Groups: 1=month 2=day 3=HH:MM:SS 4=server 5=ip 6=user.
# (?s): Python's `.` matches \r (Java's default doesn't); lines may carry
# stray CRs (the reference test at test_log_utils.py:162 has one).
SASL_LINE_RE = (
    r"(?s)^([A-Z][a-z]{2})\s+(\d{1,2})\s+(\d{2}:\d{2}:\d{2})\s+(\S+)\s+"
    r".*?(\d{1,3}(?:\.\d{1,3}){3}).*?sasl_username=([^,]+)"
)

MONTHS = {
    "Jan": 1, "Feb": 2, "Mar": 3, "Apr": 4, "May": 5, "Jun": 6,
    "Jul": 7, "Aug": 8, "Sep": 9, "Oct": 10, "Nov": 11, "Dec": 12,
}


def month_num(mon: Column) -> Column:
    """Month abbreviation → number; NULL for unknown (drops the line,
    matching log_utils.py:92-94 returning None on a bad month)."""
    mapping = F.create_map(*[F.lit(x) for kv in MONTHS.items() for x in kv])
    return mapping[mon]


def parse_sasl_lines(lines: DataFrame, year: int) -> DataFrame:
    """``value:string`` lines → (server, ts, ip, user).

    ``year`` is the injected wall-clock year (SURVEY §7 hard-part 3: never
    call now() inside an operator).
    """
    v = F.col("value")
    # Every SASL_LINE_RE match contains this literal.
    parsed = (
        lines.filter(v.contains("sasl_username="))
        .select(
            F.regexp_extract(v, SASL_LINE_RE, 1).alias("_mon"),
            F.regexp_extract(v, SASL_LINE_RE, 2).alias("_day"),
            F.regexp_extract(v, SASL_LINE_RE, 3).alias("_time"),
            F.regexp_extract(v, SASL_LINE_RE, 4).alias("server"),
            F.regexp_extract(v, SASL_LINE_RE, 5).alias("ip"),
            F.regexp_extract(v, SASL_LINE_RE, 6).alias("_user_raw"),
        )
        # regexp_extract yields '' on no-match; every match has an ip.
        .filter(F.col("ip") != "")
    )

    # P3: timestamp with injected year; seconds truncated (log_utils.py:95
    # `time[:5]`). Built by ARITHMETIC, not string parsing: under ANSI
    # (Spark 4 default) to_timestamp on one malformed line aborts the
    # whole job, and the try_* family (try_to_timestamp /
    # try_make_timestamp / try_cast) is CodegenFallback — measured 2×
    # slower end-to-end because it breaks the stage out of codegen. The
    # regex groups guarantee digit-only day/time tokens, so plain int
    # casts can't throw; calendar validity is a codegen filter over
    # per-month literal maps (leap-aware — computed driver-side from the
    # injected year), and the epoch math (timestamp_seconds over
    # UTC day numbers; session timezone is pinned UTC in session.py)
    # cannot fail by construction.
    # Documented divergence: the reference never calendar-validates the
    # day or hour — `int(day)` into a plain format string
    # (log_utils.py:94-96) emits "99/01/2025" or "31/02/2025" events. We
    # type ts as a real timestamp, so impossible dates drop here
    # (strictly more correct; tests/test_parse_differential.py accounts
    # for it).
    import datetime as dt

    days_in = {
        m: (dt.date(year, m + 1, 1) - dt.date(year, m, 1)).days if m < 12
        else (dt.date(year + 1, 1, 1) - dt.date(year, 12, 1)).days
        for m in range(1, 13)
    }
    offsets = {m: (dt.date(year, m, 1) - dt.date(year, 1, 1)).days
               for m in range(1, 13)}
    jan1_epoch_days = (dt.date(year, 1, 1) - dt.date(1970, 1, 1)).days
    by_abbr = {abbr: num for abbr, num in MONTHS.items()}
    dim_map = F.create_map(
        *[F.lit(x) for a, n in by_abbr.items() for x in (a, days_in[n])]
    )
    off_map = F.create_map(
        *[F.lit(x) for a, n in by_abbr.items() for x in (a, offsets[n])]
    )

    day = F.col("_day").cast("int")  # regex-guaranteed \d{1,2}
    hh = F.substring("_time", 1, 2).cast("int")  # \d{2}
    mm = F.substring("_time", 4, 2).cast("int")  # \d{2}
    valid = (
        month_num(F.col("_mon")).isNotNull()
        & day.between(1, dim_map[F.col("_mon")])
        & hh.between(0, 23)
        & mm.between(0, 59)
    )
    epoch_days = (
        F.lit(jan1_epoch_days) + off_map[F.col("_mon")] + day - F.lit(1)
    )
    ts = F.timestamp_seconds(
        epoch_days.cast("long") * 86400 + hh * 3600 + mm * 60
    )
    # P4: strip + CR/LF → space (log_utils.py:100-101).
    user = F.trim(F.regexp_replace("_user_raw", r"[\r\n]", " "))
    return parsed.filter(valid).select(
        "server", ts.alias("ts"), "ip", user.alias("user")
    )
