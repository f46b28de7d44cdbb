"""Main CLI modes end-to-end: extract -> report -> sql-export -> sql-import."""

import csv
import os
import sqlite3

import pytest

from maillogsentinel_spark import app

LINE = ("Aug 12 06:57:{s:02d} srv1 postfix/smtps/smtpd[1]: warning: "
        "unknown[45.0.0.{o}]: SASL LOGIN authentication failed: "
        "(reason unavailable), sasl_username=u{o}@x.com,\n")


def test_cli_modes_end_to_end(spark, tmp_path, capsys, monkeypatch):
    logs = tmp_path / "logs"
    logs.mkdir()
    (logs / "mail.log").write_text("".join(LINE.format(s=i, o=i) for i in range(4)))
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
    assert len(store_rows) == 4

    # report for the log day
    assert app.main(["--config", str(ini), "--report", "--date", "12/08/2025"]) == 0
    out = capsys.readouterr().out
    assert "12/08/2025" in out and "4" in out

    # sql export then import
    assert app.main(["--config", str(ini), "--sql-export"]) == 0
    sql_path = capsys.readouterr().out.strip().splitlines()[-1]
    assert os.path.exists(sql_path)
    body = open(sql_path).read()
    assert body.startswith("BEGIN TRANSACTION;") and "INSERT INTO" in body

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
