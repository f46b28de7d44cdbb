"""SQL mapping layer: null-ish normalization, type-directed casts,
NOT NULL quarantine, SQLite DDL + roundtrip (reference semantics from
sql_exporter.py:187-257 / sql_importer.py:149-248)."""

import datetime as dt
import os
import sqlite3

from maillogsentinel_spark.sources.sqlio import (
    cast_with_mapping,
    insert_statements,
    load_mapping,
    normalize_nullish,
    sqlite_ddl,
    write_sqlite,
)

MAPPING = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "maillogsentinel_spark", "config", "sql_column_mapping.json",
)


def _rows(spark, rows):
    cols = ["server", "date", "ip", "user", "hostname",
            "reverse_dns_status", "country_code", "asn", "aso"]
    schema = ", ".join(f"{c} string" for c in cols)
    return spark.createDataFrame(rows, schema)


GOOD = ("srv", "28/09/2025 00:33", "1.1.1.1", "u1", "h1", "OK", "US", "13335", "ISP")
NULLISH_OK = ("srv", "28/09/2025 00:34", "2.2.2.2", "u2", "null", "Timeout", "N/A", "n/a", "")
BAD_NOTNULL = ("srv", "28/09/2025 00:35", "3.3.3.3", "NA", "h", "OK", "US", "1", "x")
BAD_ENUM = ("srv", "28/09/2025 00:36", "4.4.4.4", "u4", "h", "WEIRD", "US", "1", "x")
BAD_DATE = ("srv", "not-a-date", "5.5.5.5", "u5", "h", "OK", "US", "1", "x")


def test_cast_matrix(spark):
    specs = load_mapping(MAPPING)
    typed = cast_with_mapping(
        _rows(spark, [GOOD, NULLISH_OK, BAD_NOTNULL, BAD_ENUM, BAD_DATE]), specs
    ).collect()
    g = {r["ip"]: r for r in typed if not r["violations"]}
    b = {r["ip"]: r for r in typed if r["violations"]}
    # typed values
    assert g["1.1.1.1"]["event_time"] == dt.datetime(2025, 9, 28, 0, 33)
    assert g["1.1.1.1"]["asn"] == 13335
    # null-ish strings → NULL on nullable columns (P7)
    assert g["2.2.2.2"]["hostname"] is None
    assert g["2.2.2.2"]["country_code"] is None
    assert g["2.2.2.2"]["asn"] is None
    # NOT NULL violations quarantined with reasons, not dropped silently
    assert b["3.3.3.3"]["violations"] == ["username"]
    assert b["4.4.4.4"]["violations"] == ["reverse_dns_status"]
    assert b["5.5.5.5"]["violations"] == ["event_time"]
    assert sum(1 for r in typed if not r["violations"]) == 2
    assert sum(1 for r in typed if r["violations"]) == 3


def test_ddl_translation():
    specs = load_mapping(MAPPING)
    ddl = sqlite_ddl(specs, "events")
    assert '"id" INTEGER PRIMARY KEY AUTOINCREMENT' in ddl
    assert '"event_time" TEXT NOT NULL' in ddl
    assert '"asn" INTEGER' in ddl
    assert "CHECK(\"reverse_dns_status\" IN ('OK'" in ddl
    assert ddl.startswith("CREATE TABLE IF NOT EXISTS")


def test_sqlite_roundtrip(spark, tmp_path):
    specs = load_mapping(MAPPING)
    good = cast_with_mapping(_rows(spark, [GOOD, NULLISH_OK]), specs)
    db = str(tmp_path / "t.db")
    assert write_sqlite(good, db, "events", specs) == 2
    con = sqlite3.connect(db)
    rows = con.execute(
        "SELECT server, event_time, asn, hostname FROM events ORDER BY ip"
    ).fetchall()
    assert rows[0] == ("srv", "2025-09-28 00:33:00", 13335, "h1")
    assert rows[1][2] is None and rows[1][3] is None
    # enum CHECK enforced by the generated DDL
    try:
        con.execute("INSERT INTO events (server, event_time, ip, username, reverse_dns_status) VALUES ('s','t','i','u','NOPE')")
        raised = False
    except sqlite3.IntegrityError:
        raised = True
    assert raised
    con.close()


def test_insert_statement_escaping(spark):
    specs = load_mapping(MAPPING)
    row = ("srv", "28/09/2025 00:33", "1.1.1.1", "o'brien", None, "OK", "US", None, None)
    good = cast_with_mapping(_rows(spark, [row]), specs).collect()
    sql = "".join(insert_statements(good, "events", specs))
    assert sql.startswith("BEGIN TRANSACTION;")
    assert sql.rstrip().endswith("COMMIT;")
    assert "'o''brien'" in sql   # quote escaping (sql_exporter.py:187-199)
    assert "NULL" in sql


def test_normalize_nullish_expr(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("",), ("null",), ("NA",), (" N/a ",), ("keep",)], ["v"]
    )
    out = [r["o"] for r in df.select(normalize_nullish(F.col("v")).alias("o")).collect()]
    assert out == [None, None, None, None, "keep"]
