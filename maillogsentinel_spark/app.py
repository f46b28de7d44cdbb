"""Main CLI — the reference's operational modes on the Spark engine.

Mirrors `bin/maillogsentinel.py`'s surface (argparse modes at
`/root/reference/bin/maillogsentinel.py:98-143`, INI layout at
`lib/maillogsentinel/config.py:10-58`): default run = incremental
extraction; `--report` renders/sends the daily report; `--sql-export`
emits a byte-compat `.sql` transaction file; `--sql-import` loads it
into SQLite. Install tooling (`--setup`, `--reset`, `--purge`, systemd
generation) is an explicit non-goal (SURVEY §7).

What replaces what:
- byte-offset state files → one Structured Streaming checkpoint under
  ``working_dir/checkpoint`` (exactly-once, rotation-safe);
- the growing report-bottleneck CSV → a date-partitioned Parquet store
  (the CSV is still emitted for byte-compat consumers);
- `--report` reads one day's partition (partition pruning), not the
  whole history.

Wall-clock inputs are injectable (`--date`, `--year`) per the
reproducibility rule in SURVEY §7 (hard part 3).
"""

from __future__ import annotations

import argparse
import configparser
import datetime as _dt
import glob
import os
import sys

VERSION = "1.0"


def load_config(path: str | None) -> dict:
    """Subset of the reference INI the analytics engine needs; same
    sections/keys, same defaults shape (config.py:10-58). Other sections
    are accepted and ignored, among them the reference's DNS-cache
    section (config.py:36-40): each batch resolves its distinct IPs
    once, and no cache spans batches."""
    cfg = {
        "working_dir": "./maillogsentinel-work",
        "mail_log": "/var/log/mail.log",
        "csv_filename": "maillogsentinel.csv",
        "email": None,
        "subject_prefix": "[MailLogSentinel]",
        "sender_override": None,
        "country_db_path": None,
        "asn_db_path": None,
        "db_path": "maillogsentinel.sqlite",
        "table_name": "maillogsentinel_events",
        "column_mapping_file": None,
        "log_level": "INFO",
        "log_file": None,
        "log_file_max_bytes": 1_000_000,
        "log_file_backup_count": 5,
    }
    if path:
        ini = configparser.ConfigParser()
        ini.read(path)
        g = ini.get
        for section, key, dest in [
            ("paths", "working_dir", "working_dir"),
            ("paths", "mail_log", "mail_log"),
            ("paths", "csv_filename", "csv_filename"),
            ("report", "email", "email"),
            ("report", "subject_prefix", "subject_prefix"),
            ("report", "sender_override", "sender_override"),
            ("geolocation", "country_db_path", "country_db_path"),
            ("ASN_ASO", "asn_db_path", "asn_db_path"),
            ("sqlite_database", "db_path", "db_path"),
            ("sql_export_settings", "table_name", "table_name"),
            ("sql_export_settings", "column_mapping_file", "column_mapping_file"),
            ("general", "log_level", "log_level"),
            ("general", "log_file", "log_file"),
        ]:
            if ini.has_option(section, key):
                v = g(section, key)
                cfg[dest] = v if v != "" else cfg[dest]
        for key, dest in [
            ("log_file_max_bytes", "log_file_max_bytes"),
            ("log_file_backup_count", "log_file_backup_count"),
        ]:
            if ini.has_option("general", key):
                cfg[dest] = ini.getint("general", key)
    return cfg


def configure_logging(cfg: dict) -> None:
    """[general] log_file + rotation knobs (reference config.py:31-34;
    its RotatingFileHandler setup lives in utils.setup_logging): attach
    a rotating handler for the package's own Python-side logging. Spark
    JVM logs stay on log4j — _spark() maps log_level onto them."""
    import logging
    from logging.handlers import RotatingFileHandler

    log = logging.getLogger("maillogsentinel_spark")
    level = getattr(logging, str(cfg.get("log_level", "INFO")).upper(), logging.INFO)
    log.setLevel(level)
    if cfg.get("log_file"):
        handler = RotatingFileHandler(
            cfg["log_file"],
            maxBytes=int(cfg["log_file_max_bytes"]),
            backupCount=int(cfg["log_file_backup_count"]),
        )
        handler.setFormatter(
            logging.Formatter("%(asctime)s %(levelname)s %(name)s: %(message)s")
        )
        log.addHandler(handler)


def _spark(cfg: dict):
    from .session import get_spark

    spark = get_spark(app_name="maillogsentinel-spark-cli")
    # [general] log_level (reference config.py:31-34); Spark's JVM levels
    # are a superset of logging's, pass through verbatim.
    level = str(cfg.get("log_level") or "INFO").upper()
    if level in {"DEBUG", "INFO", "WARN", "WARNING", "ERROR", "FATAL"}:
        spark.sparkContext.setLogLevel("WARN" if level == "WARNING" else level)
    return spark


def run_extract(cfg: dict, year: int, resolver=None) -> int:
    """Default mode: incremental ingest of the mail-log directory into
    the Parquet store + byte-compat CSV mirror, both appended by each
    micro-batch. A failed batch raises (non-zero exit from ``main``)."""
    from .sources.dims import load_geo_asn, load_geo_country
    from .streaming.ingest import start_ingest

    spark = _spark(cfg)
    wd = cfg["working_dir"]
    os.makedirs(wd, exist_ok=True)
    geo_c = (
        load_geo_country(spark, cfg["country_db_path"])
        if cfg["country_db_path"]
        else None
    )
    geo_a = load_geo_asn(spark, cfg["asn_db_path"]) if cfg["asn_db_path"] else None
    from .operators.rdns import default_socket_resolver

    log_dir = os.path.dirname(os.path.abspath(cfg["mail_log"])) or "."
    q = start_ingest(
        spark,
        log_dir,
        os.path.join(wd, "store"),
        os.path.join(wd, "checkpoint"),
        year,
        resolver or default_socket_resolver,
        geo_country=geo_c,
        geo_asn=geo_a,
        csv_path=os.path.join(wd, cfg["csv_filename"] + ".d"),
    )
    # availableNow: the query stops by itself once the backlog is done
    q.awaitTermination()
    return 0


def run_report(cfg: dict, date_s: str, send: bool = False) -> int:
    """--report: aggregate one day from the store, render the
    reference-format text; optionally email it."""
    from .report import daily_report_stats, render_report
    from .sources.store import read_events

    spark = _spark(cfg)
    ev = read_events(spark, os.path.join(cfg["working_dir"], "store"))
    stats = daily_report_stats(ev, date_s)
    txt = render_report(stats, date_s, server_name=os.uname().nodename)
    print(txt)
    if send and cfg["email"]:
        from .report.email_sink import build_report_email, send_email

        # [report] sender_override + subject_prefix (reference
        # config.py:117-119; report.py:273-276 prefers the override).
        msg = build_report_email(
            txt,
            sender=cfg["sender_override"]
            or f"maillogsentinel@{os.uname().nodename}",
            recipient=cfg["email"],
            subject=f"{cfg['subject_prefix']} {date_s}",
        )
        send_email(msg)
    return 0


def run_sql_export(cfg: dict, out_dir: str | None = None) -> int:
    """--sql-export: events → BEGIN TRANSACTION; INSERT…; COMMIT; file
    (byte-compat S8 shape, timestamped filename). Rows failing NOT-NULL
    casts are quarantined, not silently skipped (documented divergence
    from the reference's offset-advance-past-errors)."""
    from .sources.sqlio import cast_with_mapping, insert_statements, load_mapping
    from .sources.store import csv_projection, read_events

    spark = _spark(cfg)
    csv_shape = csv_projection(
        read_events(spark, os.path.join(cfg["working_dir"], "store"))
    )
    specs = load_mapping(cfg["column_mapping_file"] or _default_mapping())
    good, quarantined = cast_with_mapping(csv_shape, specs)
    text = insert_statements(good, cfg["table_name"], specs)
    out_dir = out_dir or os.path.join(cfg["working_dir"], "sql_export")
    os.makedirs(out_dir, exist_ok=True)
    stamp = _dt.datetime.now().strftime("%Y%m%d_%H%M")
    path = os.path.join(out_dir, f"{stamp}_maillogsentinel_export.sql")
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)
    nq = quarantined.count()
    if nq:
        print(f"# quarantined {nq} row(s)", file=sys.stderr)
    print(path)
    return 0


def run_sql_import(cfg: dict, sql_dir: str | None = None) -> int:
    """--sql-import: replay exported .sql files into SQLite (sorted,
    idempotent via an imported-files log — S9 semantics)."""
    import sqlite3

    sql_dir = sql_dir or os.path.join(cfg["working_dir"], "sql_export")
    log_path = os.path.join(cfg["working_dir"], "sql_imported_files.log")
    done = set()
    if os.path.exists(log_path):
        done = set(open(log_path, encoding="utf-8").read().split())
    conn = sqlite3.connect(os.path.join(cfg["working_dir"], cfg["db_path"]))
    try:
        from .sources.sqlio import load_mapping, sqlite_ddl

        specs = load_mapping(cfg["column_mapping_file"] or _default_mapping())
        conn.executescript(sqlite_ddl(specs, cfg["table_name"]))
        n = 0
        for p in sorted(glob.glob(os.path.join(sql_dir, "*.sql"))):
            base = os.path.basename(p)
            if base in done:
                continue
            conn.executescript(open(p, encoding="utf-8").read())
            with open(log_path, "a", encoding="utf-8") as f:
                f.write(base + "\n")
            n += 1
        conn.commit()
        print(f"imported {n} file(s)")
    finally:
        conn.close()
    return 0


def run_reset(cfg: dict, purge: bool = False) -> int:
    """--reset / --purge: archive the working dir's data (store, CSV
    mirror, checkpoint; plus sql export/import artifacts when purging)
    into a timestamped folder and start clean — the reference's
    archive-and-reset semantics without its byte-offset state files."""
    import shutil

    wd = cfg["working_dir"]
    stamp = _dt.datetime.now().strftime("%Y%m%d_%H%M%S")
    dest = os.path.join(wd, f"archive_{stamp}")
    targets = ["store", "checkpoint", cfg["csv_filename"] + ".d"]
    if purge:
        targets += ["sql_export", "sql_imported_files.log", cfg["db_path"]]
    moved = 0
    for t in targets:
        src = os.path.join(wd, t)
        if os.path.exists(src):
            os.makedirs(dest, exist_ok=True)
            shutil.move(src, os.path.join(dest, os.path.basename(t)))
            moved += 1
    print(dest if moved else "nothing to archive")
    return 0


def run_validate(cfg: dict, config_path: str | None) -> int:
    """--validate-config: non-interactive config doctor — the
    validation kernel of the reference's interactive setup wizard
    (`bin/maillogsentinel_setup.py`, whose systemd/prompt surface is a
    declared non-goal, SURVEY §7). Checks every knob the pipeline will
    trip over at run time and prints one OK/FAIL line each; exit 0 iff
    all checks pass. Needs no Spark session.

    The dim check is semantic, not just an existence test: the
    reference parses IP bounds with `int(s)` (ipinfo.py:193-197), so a
    dotted-quad bound is a silently-empty dim — the classic
    misconfiguration this doctor exists to catch."""
    checks: list[tuple[str, bool, str]] = []

    def add(name: str, ok: bool, detail: str) -> None:
        checks.append((name, ok, detail))

    if config_path:
        add("config file", os.path.isfile(config_path), config_path)
    else:
        add("config file", True, "defaults (no --config given)")

    wd = cfg["working_dir"]
    wd_parent = os.path.dirname(os.path.abspath(wd)) or "."
    add(
        "working_dir",
        os.path.isdir(wd) or os.access(wd_parent, os.W_OK),
        f"{wd} ({'exists' if os.path.isdir(wd) else 'creatable'})"
        if os.path.isdir(wd) or os.access(wd_parent, os.W_OK)
        else f"{wd}: parent not writable",
    )
    add(
        "mail_log",
        os.access(cfg["mail_log"], os.R_OK),
        cfg["mail_log"],
    )

    email = cfg.get("email")
    add(
        "report email",
        email is None or "@" in email,
        email or "(unset — reports render to stdout only)",
    )

    for name, key in [("country dim", "country_db_path"), ("asn dim", "asn_db_path")]:
        path = cfg.get(key)
        if not path:
            add(name, True, "(unset — geo columns will be N/A)")
            continue
        if not os.access(path, os.R_OK):
            add(name, False, f"{path}: not readable")
            continue
        ok, detail = True, path
        try:
            import gzip

            opener = gzip.open if path.endswith(".gz") else open
            with opener(path, "rt", errors="replace") as fh:
                first = fh.readline().strip()
            parts = first.split(",")
            if len(parts) < 3:
                ok, detail = False, f"{path}: first row has {len(parts)} fields"
            else:
                int(parts[0]), int(parts[1])
        except ValueError:
            ok = False
            detail = (
                f"{path}: bounds are not numeric (dotted-quad bounds make "
                "the dim silently empty — reference ipinfo.py does int(s))"
            )
        except OSError as e:
            ok, detail = False, f"{path}: {e}"
        add(name, ok, detail)

    mapping = cfg.get("column_mapping_file") or _default_mapping()
    try:
        import json

        with open(mapping) as fh:
            doc = json.load(fh)
        ok = isinstance(doc, dict) and bool(doc)
        add("sql mapping", ok, mapping if ok else f"{mapping}: empty or not an object")
    except (OSError, ValueError) as e:
        add("sql mapping", False, f"{mapping}: {e}")

    db_dir = os.path.dirname(os.path.abspath(os.path.join(wd, cfg["db_path"]))) or "."
    add(
        "sqlite db dir",
        os.path.isdir(db_dir) or os.access(os.path.dirname(db_dir) or ".", os.W_OK),
        db_dir,
    )

    width = max(len(n) for n, _, _ in checks)
    all_ok = True
    for name, ok, detail in checks:
        all_ok &= ok
        print(f"{'OK  ' if ok else 'FAIL'}  {name:<{width}}  {detail}")
    print("config valid" if all_ok else "config INVALID")
    return 0 if all_ok else 1


def _default_mapping() -> str:
    return os.path.join(os.path.dirname(__file__), "config", "sql_column_mapping.json")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="maillogsentinel-spark",
        description="Postfix SASL log analytics on PySpark",
    )
    p.add_argument("--config", default=None, help="INI config (reference layout)")
    p.add_argument("--report", action="store_true", help="render daily report and exit")
    p.add_argument("--send", action="store_true", help="with --report: email it")
    p.add_argument("--sql-export", action="store_true")
    p.add_argument("--sql-import", action="store_true")
    p.add_argument("--reset", action="store_true", help="archive data, start clean")
    p.add_argument(
        "--validate-config",
        action="store_true",
        help="check config/paths/dims/mapping and exit (no Spark)",
    )
    p.add_argument("--purge", action="store_true", help="archive everything")
    p.add_argument("--date", default=None, help="report day dd/MM/yyyy (default: today)")
    p.add_argument("--year", type=int, default=None, help="log-line year (default: current)")
    p.add_argument("--version", action="version", version=f"%(prog)s {VERSION}")
    args = p.parse_args(argv)

    cfg = load_config(args.config)
    configure_logging(cfg)
    if args.validate_config:
        return run_validate(cfg, args.config)
    if args.report:
        date_s = args.date or _dt.date.today().strftime("%d/%m/%Y")
        return run_report(cfg, date_s, send=args.send)
    if args.sql_export:
        return run_sql_export(cfg)
    if args.sql_import:
        return run_sql_import(cfg)
    if args.reset or args.purge:
        return run_reset(cfg, purge=args.purge)
    return run_extract(cfg, args.year or _dt.date.today().year)


if __name__ == "__main__":
    sys.exit(main())
