"""SQL export/import layer — reference S8/S9/S10 + P7/P10.

The reference turns CSV rows into INSERT-statement files consumed by a
locked SQLite importer, driven by a JSON column mapping that declares
MySQL-ish types (/root/reference/lib/maillogsentinel/sql_exporter.py:54-311,
sql_importer.py:149-518, config/maillogsentinel_sql_column_mapping.json).

Spark-first shape:
- the mapping drives a declarative ``select(cast...)`` (P10) with
  null-ish normalization (P7, sql_exporter.py:217-226): '', 'null',
  'na', 'n/a' (case-insensitive) → NULL;
- NOT NULL violations are named in a ``violations`` column and those
  rows are quarantined instead of failing the whole batch — a
  documented, strictly-safer divergence from the reference, which *advances its offset past* failed rows
  (sql_exporter.py:621-630, at-least-once with permanent row loss);
- DDL generation translates the MySQL-ish defs to SQLite exactly like
  sql_importer.py:149-248 (AUTO_INCREMENT PK → INTEGER PRIMARY KEY
  AUTOINCREMENT, VARCHAR/DATETIME → TEXT, ENUM → TEXT + CHECK(...));
- the SQLite sink uses the stdlib sqlite3 driver, one transaction per
  call fed one partition at a time from ``toLocalIterator`` (no JDBC
  driver in this container); on a cluster the same frame goes through
  ``df.write.jdbc`` untouched. The ``.sql`` exporter formats rows that
  ``app.run_sql_export`` collected in one Spark job.
"""

from __future__ import annotations

import json
import re
import sqlite3
from collections.abc import Iterable, Iterator
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

NULLISH = ["", "null", "na", "n/a"]
TRUTHY = ["true", "1", "yes", "on"]


@dataclass
class ColumnSpec:
    sql_col: str
    source_col: str | None
    base_type: str           # INT | DATETIME | VARCHAR | CHAR | ENUM | BOOL
    not_null: bool
    auto_increment: bool
    enum_values: list[str]
    raw_def: str


def parse_column_def(sql_col: str, definition: str, source_col: str | None) -> ColumnSpec:
    d = definition.strip()
    up = d.upper()
    enum_values: list[str] = []
    if up.startswith("ENUM"):
        base = "ENUM"
        enum_values = re.findall(r"'([^']*)'", d[d.index("("):])
    elif up.startswith(("TINYINT(1)", "BOOL")):
        base = "BOOL"
    elif up.startswith(("INT", "BIGINT", "SMALLINT", "TINYINT", "MEDIUMINT")):
        base = "INT"
    elif up.startswith(("DATETIME", "TIMESTAMP")):
        base = "DATETIME"
    elif up.startswith("CHAR"):
        base = "CHAR"
    else:
        base = "VARCHAR"
    return ColumnSpec(
        sql_col=sql_col,
        source_col=source_col,
        base_type=base,
        not_null="NOT NULL" in up,
        auto_increment="AUTO_INCREMENT" in up,
        enum_values=enum_values,
        raw_def=d,
    )


def load_mapping(path_or_dict) -> list[ColumnSpec]:
    """JSON mapping: {sql_col: {sql_column_def, csv_column_name}} —
    same shape as the reference's config JSON."""
    if isinstance(path_or_dict, dict):
        raw = path_or_dict
    else:
        with open(path_or_dict) as f:
            raw = json.load(f)
    return [
        parse_column_def(col, spec["sql_column_def"], spec.get("csv_column_name"))
        for col, spec in raw.items()
    ]


def normalize_nullish(col: Column) -> Column:
    """P7: '', 'null', 'na', 'n/a' (case-insensitive, trimmed) → NULL."""
    return F.when(F.lower(F.trim(col)).isin(NULLISH), None).otherwise(col)


def _inserted_specs(specs: list[ColumnSpec]) -> list[ColumnSpec]:
    """The columns an INSERT writes: all but an AUTO_INCREMENT key the
    database generates (the reference skips it too)."""
    return [s for s in specs if not (s.auto_increment and s.source_col is None)]


def _cast_one(col: Column, spec: ColumnSpec) -> Column:
    if spec.base_type == "INT":
        return col.try_cast("long")
    if spec.base_type == "BOOL":
        return F.when(F.lower(F.trim(col)).isin(TRUTHY), 1).otherwise(0)
    if spec.base_type == "DATETIME":
        # accept the reference CSV form dd/MM/yyyy HH:mm, else ISO
        c = col.cast("string")
        return F.coalesce(
            F.try_to_timestamp(c, F.lit("dd/MM/yyyy HH:mm")),
            c.try_cast("timestamp"),
        )
    if spec.base_type == "ENUM":
        return F.when(col.isin(spec.enum_values), col)
    return col.cast("string")


def cast_with_mapping(df: DataFrame, specs: list[ColumnSpec]) -> DataFrame:
    """Typed select per the mapping plus a ``violations`` column: the
    NOT NULL target columns that came out NULL (null-ish input, bad int,
    bad date, out-of-enum). Rows with ``size(violations) > 0`` are the
    quarantine; the rest are the rows to insert."""
    out_cols: list[Column] = []
    violation_reasons: list[Column] = []
    for spec in _inserted_specs(specs):
        src = F.col(spec.source_col)
        normalized = normalize_nullish(src.cast("string"))
        casted = _cast_one(normalized, spec)
        out_cols.append(casted.alias(spec.sql_col))
        if spec.not_null:
            violation_reasons.append(
                F.when(casted.isNull(), F.lit(spec.sql_col))
            )
    viol = (
        F.array_compact(F.array(*violation_reasons))
        if violation_reasons
        else F.array().cast("array<string>")
    )
    return df.select(*out_cols, viol.alias("violations"))


def sqlite_ddl(specs: list[ColumnSpec], table: str) -> str:
    """S10: MySQL-ish defs → SQLite CREATE TABLE IF NOT EXISTS
    (translation rules of sql_importer.py:149-248)."""
    cols = []
    for s in specs:
        if s.auto_increment:
            cols.append(f'"{s.sql_col}" INTEGER PRIMARY KEY AUTOINCREMENT')
            continue
        if s.base_type == "INT":
            t = "INTEGER"
        elif s.base_type == "BOOL":
            t = "INTEGER"
        else:
            t = "TEXT"  # VARCHAR / CHAR / DATETIME / ENUM → TEXT
        parts = [f'"{s.sql_col}"', t]
        if s.not_null:
            parts.append("NOT NULL")
        if s.base_type == "ENUM" and s.enum_values:
            vals = ", ".join(f"'{v}'" for v in s.enum_values)
            parts.append(f'CHECK("{s.sql_col}" IN ({vals}))')
        cols.append(" ".join(parts))
    return f'CREATE TABLE IF NOT EXISTS "{table}" ({", ".join(cols)})'


LEDGER_TABLE = "_committed_batches"


# DATETIME values as SQLite stores them and as the .sql files spell them
DATETIME_TEXT = "%Y-%m-%d %H:%M:%S"


def _sql_value(v):
    return v.strftime(DATETIME_TEXT) if hasattr(v, "strftime") else v


def write_sqlite(
    df: DataFrame,
    db_path: str,
    table: str,
    specs: list[ColumnSpec],
    batch_id: int | None = None,
) -> int:
    """Append the rows of ``df`` (typed by cast_with_mapping) that have no
    violations into SQLite in ONE transaction; returns the number of rows
    written. Quarantined rows are skipped here, so callers pass the
    typed frame as it is.

    Driver-side stdlib sqlite3 (this container has no JDBC sqlite
    driver); on a real cluster: ``df.write.jdbc(..., mode='append')``
    with the same DDL. Rows are pulled with ``toLocalIterator``, one
    partition at a time, and fed to ``executemany`` as they arrive: the
    first availableNow batch of ``start_sql_export`` can be the whole
    store, so the driver never holds more than one partition of it.

    With ``batch_id`` set (the streaming foreachBatch path) the write is
    IDEMPOTENT: a ledger row in ``_committed_batches`` is inserted in
    the SAME transaction as the data, and an already-present (table,
    batch_id) pair short-circuits to 0. foreachBatch is only
    at-least-once — a crash between the SQLite commit and the Spark
    checkpoint commit replays the batch — so the ledger is what turns
    the resume into effective exactly-once (the reference's exporter/
    importer pair has the same hole with no ledger,
    sql_exporter.py:621-630).
    """
    cols = [s.sql_col for s in _inserted_specs(specs)]
    placeholders = ", ".join("?" for _ in cols)
    collist = ", ".join(f'"{c}"' for c in cols)
    insert = f'INSERT INTO "{table}" ({collist}) VALUES ({placeholders})'
    good = df.filter(F.size("violations") == 0)

    conn = sqlite3.connect(db_path)
    try:
        conn.execute(sqlite_ddl(specs, table))
        if batch_id is not None:
            conn.execute(
                f'CREATE TABLE IF NOT EXISTS "{LEDGER_TABLE}" '
                "(target_table TEXT NOT NULL, batch_id INTEGER NOT NULL, "
                "PRIMARY KEY (target_table, batch_id))"
            )
            already = conn.execute(
                f'SELECT 1 FROM "{LEDGER_TABLE}" WHERE target_table = ? '
                "AND batch_id = ?",
                (table, batch_id),
            ).fetchone()
            if already:
                return 0
        # sqlite3 opens the transaction at the first INSERT; ``with conn``
        # commits the rows and the ledger row together or rolls both back
        with conn:
            n = conn.executemany(
                insert,
                ([_sql_value(row[c]) for c in cols] for row in good.toLocalIterator()),
            ).rowcount
            if batch_id is not None:
                conn.execute(
                    f'INSERT INTO "{LEDGER_TABLE}" VALUES (?, ?)', (table, batch_id)
                )
        return n
    finally:
        conn.close()


def sql_literal(v) -> str:
    """SQL text literal with the reference's '→'' escaping
    (sql_exporter.py:187-199); property-tested against a real SQLite
    round-trip for arbitrary text (tests/test_properties.py — which is
    how the NUL case below was found). Embedded NUL bytes are stripped:
    they are unrepresentable inside a .sql script (sqlite3 refuses the
    whole script), and silently losing every row in the file is the
    failure mode the exporter exists to avoid."""
    v = _sql_value(v)
    if v is None:
        return "NULL"
    if isinstance(v, (int, float)):
        return str(v)
    return "'" + str(v).replace("\x00", "").replace("'", "''") + "'"


def insert_statements(
    rows: Iterable[Row], table: str, specs: list[ColumnSpec]
) -> Iterator[str]:
    """S8 byte-compat path: the lines (newline-terminated) of a
    BEGIN TRANSACTION; INSERT ...; COMMIT; script for those ``rows``
    (typed by cast_with_mapping) that have no violations, with the
    reference's escaping ('→'', sql_exporter.py:187-199). Lines are made
    one at a time, so a caller writing them to a file never holds the
    whole script."""
    cols = [s.sql_col for s in _inserted_specs(specs)]
    collist = ", ".join(f"`{c}`" for c in cols)
    yield "BEGIN TRANSACTION;\n"
    for row in rows:
        if row["violations"]:
            continue
        vals = ", ".join(sql_literal(row[c]) for c in cols)
        yield f"INSERT INTO `{table}` ({collist}) VALUES ({vals});\n"
    yield "COMMIT;\n"
