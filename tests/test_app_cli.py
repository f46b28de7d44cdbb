"""Main CLI modes end-to-end: extract -> report -> sql-export -> sql-import."""

import csv
import datetime
import errno
import os
import sqlite3
from types import SimpleNamespace

import pytest

from maillogsentinel_spark import app

LINE = ("Aug 12 06:57:{s:02d} srv1 postfix/smtps/smtpd[1]: warning: "
        "unknown[45.0.0.{o}]: SASL LOGIN authentication failed: "
        "(reason unavailable), sasl_username=u{o}@x.com,\n")


def test_cli_modes_end_to_end(spark, tmp_path, capsys, monkeypatch):
    logs = tmp_path / "logs"
    logs.mkdir()
    # four good lines and one whose username is null-ish (quarantined)
    (logs / "mail.log").write_text("".join(LINE.format(s=i, o=i) for i in range(4))
                                   + LINE.format(s=4, o=4).replace("u4@x.com", "NA"))
    wd = tmp_path / "work"
    ini = tmp_path / "mls.conf"
    ini.write_text(f"""[paths]
working_dir = {wd}
mail_log = {logs}/mail.log
csv_filename = maillogsentinel.csv
""")

    # extract (default mode); resolver injected for hermeticity
    monkeypatch.setattr(app, "_spark", lambda cfg: spark)
    cfg = app.load_config(str(ini))
    assert app.run_extract(cfg, year=2025, resolver=lambda ip: ("h-" + ip, None)) == 0
    store_rows = spark.read.parquet(str(wd / "store")).collect()
    assert len(store_rows) == 5

    # report for the log day
    assert app.main(["--config", str(ini), "--report", "--date", "12/08/2025"]) == 0
    out = capsys.readouterr().out
    assert "12/08/2025" in out and "4" in out

    # sql export then import
    assert app.main(["--config", str(ini), "--sql-export"]) == 0
    out, err = capsys.readouterr()
    sql_path = out.strip().splitlines()[-1]
    assert os.path.exists(sql_path)
    with open(sql_path) as f:
        body = f.read()
    assert body.startswith("BEGIN TRANSACTION;") and body.count("INSERT INTO") == 4
    assert "# exported 4 row(s), quarantined 1 row(s)" in err

    assert app.main(["--config", str(ini), "--sql-import"]) == 0
    db = sqlite3.connect(str(wd / "maillogsentinel.sqlite"))
    n = db.execute("SELECT count(*) FROM maillogsentinel_events").fetchone()[0]
    assert n == 4
    # idempotent: re-import skips already-imported files
    assert app.main(["--config", str(ini), "--sql-import"]) == 0
    n2 = db.execute("SELECT count(*) FROM maillogsentinel_events").fetchone()[0]
    assert n2 == 4
    db.close()


def test_cli_reset_archives_data(spark, tmp_path, capsys, monkeypatch):
    logs = tmp_path / "logs2"
    logs.mkdir()
    (logs / "mail.log").write_text(LINE.format(s=0, o=0))
    wd = tmp_path / "work2"
    ini = tmp_path / "mls2.conf"
    ini.write_text(f"[paths]\nworking_dir = {wd}\nmail_log = {logs}/mail.log\n")

    monkeypatch.setattr(app, "_spark", lambda cfg: spark)
    cfg = app.load_config(str(ini))
    assert app.run_extract(cfg, year=2025, resolver=lambda ip: ("h", None)) == 0
    assert (wd / "store").exists()

    assert app.main(["--config", str(ini), "--reset"]) == 0
    archive = capsys.readouterr().out.strip()
    assert not (wd / "store").exists()
    assert os.path.isdir(archive) and os.path.isdir(os.path.join(archive, "store"))


def _mirror_rows(wd) -> list[tuple]:
    """Data rows of the CSV mirror, minus the header of each part file."""
    rows = []
    for part in sorted((wd / "maillogsentinel.csv.d").glob("*.csv")):
        with open(part, encoding="utf-8", newline="") as f:
            rows += [tuple(r) for r in list(csv.reader(f, delimiter=";"))[1:]]
    return rows


def _setup_extract(spark, tmp_path, monkeypatch):
    logs = tmp_path / "logs"
    logs.mkdir()
    wd = tmp_path / "work"
    monkeypatch.setattr(app, "_spark", lambda cfg: spark)
    cfg = app.load_config(None)
    cfg.update(working_dir=str(wd), mail_log=str(logs / "mail.log"))
    return logs, wd, cfg


def _export_store(spark, tmp_path, monkeypatch):
    """A one-day store of three events; returns the config."""
    logs, wd, cfg = _setup_extract(spark, tmp_path, monkeypatch)
    (logs / "mail.log").write_text("".join(LINE.format(s=i, o=i) for i in range(3)))
    assert app.run_extract(cfg, year=2025, resolver=lambda ip: ("h-" + ip, None)) == 0
    return cfg


def test_sql_export_runs_one_spark_job(spark, tmp_path, monkeypatch):
    """The export pulls its rows in one job; the statements and the
    quarantine count come from them. A store of at most 32 days is
    listed without a job."""
    cfg = _export_store(spark, tmp_path, monkeypatch)
    sc = spark.sparkContext
    sc.setJobGroup("sql-export-jobs", "sql-export-jobs")
    try:
        assert app.run_sql_export(cfg, out_dir=str(tmp_path / "sql")) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("sql-export-jobs")) == 1


class _FrozenClock:
    @staticmethod
    def now():
        return datetime.datetime(2025, 8, 12, 7, 0)


def test_sql_export_never_overwrites_a_published_file(spark, tmp_path, monkeypatch):
    """Two exports in the same minute: the second raises and the first
    file, which an import may already have read, stays as it was."""
    cfg = _export_store(spark, tmp_path, monkeypatch)
    monkeypatch.setattr(app, "_dt", SimpleNamespace(datetime=_FrozenClock))
    out = tmp_path / "sql"
    assert app.run_sql_export(cfg, out_dir=str(out)) == 0
    (first,) = out.glob("*.sql")
    before = first.read_bytes()
    with pytest.raises(FileExistsError):
        app.run_sql_export(cfg, out_dir=str(out))
    assert list(out.iterdir()) == [first]
    assert first.read_bytes() == before


def _open_disk_full_after_40_chars(path, mode="r", **kw):
    f = open(path, mode, **kw)
    if "w" in mode:
        real_write, written = f.write, [0]

        def write(text):
            room = 40 - written[0]
            if len(text) > room:
                real_write(text[:room])
                f.flush()
                raise OSError(errno.ENOSPC, "No space left on device")
            written[0] += len(text)
            return real_write(text)

        f.write = write
    return f


def _open_denied(path, mode="r", **kw):
    if "w" in mode:
        raise PermissionError(errno.EACCES, "Permission denied", path)
    return open(path, mode, **kw)


@pytest.mark.parametrize("faulty_open, error", [
    (_open_disk_full_after_40_chars, "No space left"),
    (_open_denied, "Permission denied"),
])
def test_sql_export_failure_mid_write_publishes_nothing(spark, tmp_path, monkeypatch,
                                                         faulty_open, error):
    """The disk fills after 40 characters of the script, or the script
    cannot be created at all: no ``.sql`` file is left, so the importer
    never runs a script without its COMMIT, and the export raises that
    error, not one from cleaning up a file that was never made."""
    cfg = _export_store(spark, tmp_path, monkeypatch)
    monkeypatch.setattr(app, "open", faulty_open, raising=False)
    out = tmp_path / "sql"
    with pytest.raises(OSError, match=error):
        app.run_sql_export(cfg, out_dir=str(out))
    assert list(out.iterdir()) == []


def test_csv_mirror_equals_store_after_two_extracts(spark, tmp_path, monkeypatch):
    """Each ingest batch appends its own events to the CSV mirror; after
    two extracts with new log lines between them, the mirror holds
    exactly the store's rows."""
    from maillogsentinel_spark.sources.store import csv_projection, read_events

    logs, wd, cfg = _setup_extract(spark, tmp_path, monkeypatch)
    resolver = lambda ip: ("h-" + ip, None)  # noqa: E731
    (logs / "mail.log").write_text("".join(LINE.format(s=i, o=i) for i in range(3)))
    assert app.run_extract(cfg, year=2025, resolver=resolver) == 0
    assert len(_mirror_rows(wd)) == 3
    # the file source tracks files: new lines arrive in a new file
    (logs / "mail.log.2").write_text(
        "".join(LINE.format(s=i, o=i) for i in range(10, 15))
    )
    assert app.run_extract(cfg, year=2025, resolver=resolver) == 0

    store = [tuple(r) for r in csv_projection(read_events(spark, str(wd / "store"))).collect()]
    assert len(store) == 8
    assert sorted(_mirror_rows(wd)) == sorted(store)


def failing_resolver(ip):
    raise RuntimeError(f"resolver down for {ip}")


def test_extract_failed_batch_raises_and_writes_no_mirror(spark, tmp_path, monkeypatch):
    """A failed micro-batch must surface as an exception (a non-zero exit
    from main), not a return 0 over a partial store and mirror."""
    logs, wd, cfg = _setup_extract(spark, tmp_path, monkeypatch)
    (logs / "mail.log").write_text("".join(LINE.format(s=i, o=i) for i in range(3)))
    with pytest.raises(Exception, match="resolver down"):
        app.run_extract(cfg, year=2025, resolver=failing_resolver)
    assert _mirror_rows(wd) == []


def test_ini_operational_knobs(tmp_path):
    # reference config.py:31-40 + :117-119 parity: [general] log_level,
    # [report] sender_override + subject_prefix all load with reference
    # defaults when absent; a reference [dns_cache] section still loads.
    ini = tmp_path / "knobs.conf"
    ini.write_text("""[general]
log_level = DEBUG
[dns_cache]
enabled = false
size = 9
ttl_seconds = 60
[report]
email = ops@example.org
sender_override = sentinel@mx.example.org
subject_prefix = [SEC]
""")
    cfg = app.load_config(str(ini))
    assert cfg["log_level"] == "DEBUG"
    assert cfg["sender_override"] == "sentinel@mx.example.org"
    assert cfg["subject_prefix"] == "[SEC]"

    defaults = app.load_config(None)
    # the [dns_cache] section is accepted and adds no keys
    assert set(cfg) == set(defaults)
    assert defaults["subject_prefix"] == "[MailLogSentinel]"
    assert defaults["sender_override"] is None


def test_report_send_uses_sender_override(spark, tmp_path, monkeypatch, capsys):
    from maillogsentinel_spark.plans.pipeline import build_events
    from maillogsentinel_spark.sources.store import write_events

    wd = tmp_path / "work2"
    lines = spark.createDataFrame(
        [(LINE.format(s=1, o=1).strip(),)], ["value"]
    )
    write_events(
        build_events(lines, 2025, lambda ip: ("h", None)), str(wd / "store")
    )
    ini = tmp_path / "send.conf"
    ini.write_text(f"""[paths]
working_dir = {wd}
[report]
email = ops@example.org
sender_override = sentinel@mx.example.org
subject_prefix = [SEC]
""")
    sent = {}
    from maillogsentinel_spark.report import email_sink

    monkeypatch.setattr(app, "_spark", lambda cfg: spark)
    monkeypatch.setattr(
        email_sink, "send_email", lambda msg, **kw: sent.update(msg=msg)
    )
    cfg = app.load_config(str(ini))
    assert app.run_report(cfg, "12/08/2025", send=True) == 0
    assert sent["msg"]["From"] == "sentinel@mx.example.org"
    assert sent["msg"]["Subject"].startswith("[SEC] ")


def test_log_file_rotation_knobs(tmp_path):
    import logging

    ini = tmp_path / "lg.conf"
    logf = tmp_path / "mls.log"
    ini.write_text(f"""[general]
log_level = WARNING
log_file = {logf}
log_file_max_bytes = 2048
log_file_backup_count = 3
""")
    cfg = app.load_config(str(ini))
    assert cfg["log_file_max_bytes"] == 2048
    assert cfg["log_file_backup_count"] == 3
    app.configure_logging(cfg)
    try:
        log = logging.getLogger("maillogsentinel_spark")
        assert log.level == logging.WARNING
        h = [x for x in log.handlers if hasattr(x, "maxBytes")]
        assert h and h[0].maxBytes == 2048 and h[0].backupCount == 3
        log.warning("hello rotation")
        for x in h:
            x.flush()
        assert "hello rotation" in logf.read_text()
    finally:
        for x in list(logging.getLogger("maillogsentinel_spark").handlers):
            logging.getLogger("maillogsentinel_spark").removeHandler(x)


def test_validate_config_doctor(tmp_path, capsys):
    """--validate-config: OK on a healthy config, FAIL (exit 1) with a
    named reason when a geo dim has dotted-quad bounds — the
    silently-empty-dim misconfiguration the doctor exists to catch."""
    logs = tmp_path / "mail.log"
    logs.write_text("x\n")
    good_dim = tmp_path / "geo.csv"
    good_dim.write_text("754974720,771751935,US\n")
    wd = tmp_path / "work"
    ini = tmp_path / "mls.conf"
    ini.write_text(f"""[paths]
working_dir = {wd}
mail_log = {logs}
[report]
email = sec@example.org
[geolocation]
country_db_path = {good_dim}
[ASN_ASO]
asn_db_path = {good_dim}
""")
    assert app.main(["--config", str(ini), "--validate-config"]) == 0
    out = capsys.readouterr().out
    assert "config valid" in out and "FAIL" not in out

    # dotted-quad bounds: present + readable, but semantically empty
    bad_dim = tmp_path / "geo_dotted.csv"
    bad_dim.write_text("45.0.0.0,45.0.0.255,US\n")
    ini.write_text(ini.read_text().replace(str(good_dim), str(bad_dim), 1))
    assert app.main(["--config", str(ini), "--validate-config"]) == 1
    out = capsys.readouterr().out
    assert "config INVALID" in out
    assert "bounds are not numeric" in out

    # missing mail.log is a FAIL too
    logs.unlink()
    assert app.main(["--config", str(ini), "--validate-config"]) == 1
