"""mysqldump → parquet converter (closes SURVEY.md S4).

The reference pipes the dump through the ``mysql2sqlite`` shell script
into an in-memory SQLite (reference fetch.py:98-124, model.py:181-188).
Spark has no use for SQLite: the useful twin is dump → parquet, after
which every read is a distributed columnar scan.

Design: a single streaming pass over the (possibly gzipped) dump file —
CREATE TABLE blocks give each table's column names and an arrow schema
(int-ish MySQL types → int64, float-ish → float64, everything else →
string); INSERT statements are tokenized with a small scanner that
understands MySQL quoting/escapes, and rows are flushed to a
ParquetWriter in batches, so memory stays bounded by the batch size and
never by the dump size.

Scale note: conversion is driver-side Python and runs at ~21k rows/s
(traced ``mysqldump.rows_per_s`` on a 7k-row Nova dump, 4 CPUs) — about
a minute for a million rows. Bulk history should use the parallel JDBC
reader (sources/tables.py:nova_jdbc_reader) or land as parquet upstream.
"""

from __future__ import annotations

import gzip
import os
import re
from collections.abc import Iterator

_CREATE_RE = re.compile(r"CREATE TABLE `([^`]+)`")
_COLUMN_RE = re.compile(r"^\s*`([^`]+)`\s+(\w+)")
_INSERT_RE = re.compile(r"INSERT INTO `([^`]+)`(?:\s*\([^)]*\))?\s+VALUES\s+", re.I)

_INT_TYPES = {"int", "integer", "tinyint", "smallint", "mediumint", "bigint"}
_FLOAT_TYPES = {"float", "double", "real"}


def _open(path: str):
    if path.endswith(".gz"):
        return gzip.open(path, "rt", encoding="utf-8", errors="replace")
    return open(path, encoding="utf-8", errors="replace")


def parse_create_columns(lines: list[str]) -> list[tuple[str, str]]:
    """(name, mysql_type) per column line of a CREATE TABLE body; index /
    constraint lines don't start with a backtick and are skipped."""
    cols = []
    for ln in lines:
        m = _COLUMN_RE.match(ln)
        if m:
            cols.append((m.group(1), m.group(2).lower()))
    return cols


def iter_value_tuples(text: str) -> Iterator[list]:
    """Tokenize the ``(...),(...)`` tail of an INSERT statement.

    Handles MySQL quoting: single-quoted strings with backslash escapes
    and '' doubling; bare NULL; int/float literals. Yields one Python
    list per row tuple."""
    i, n = 0, len(text)
    while i < n:
        while i < n and text[i] in " ,\n\r\t":
            i += 1
        if i >= n or text[i] == ";":
            return
        if text[i] != "(":
            raise ValueError(f"expected '(' at offset {i}: {text[i:i+40]!r}")
        i += 1
        row: list = []
        while True:
            while i < n and text[i] in " \n\r\t":
                i += 1
            c = text[i]
            if c == "'":
                # quoted string: scan for closing quote, honoring \x and ''
                i += 1
                buf = []
                while True:
                    c = text[i]
                    if c == "\\":
                        nxt = text[i + 1]
                        buf.append(
                            {"n": "\n", "t": "\t", "r": "\r", "0": "\0"}.get(nxt, nxt)
                        )
                        i += 2
                    elif c == "'":
                        if i + 1 < n and text[i + 1] == "'":
                            buf.append("'")
                            i += 2
                        else:
                            i += 1
                            break
                    else:
                        buf.append(c)
                        i += 1
                row.append("".join(buf))
            else:
                # bare token: NULL or a number
                j = i
                while text[j] not in ",)":
                    j += 1
                tok = text[i:j].strip()
                if tok.upper() == "NULL":
                    row.append(None)
                elif re.fullmatch(r"-?\d+", tok):
                    row.append(int(tok))
                else:
                    row.append(float(tok))
                i = j
            while i < n and text[i] in " \n\r\t":
                i += 1
            if text[i] == ",":
                i += 1
                continue
            if text[i] == ")":
                i += 1
                break
        yield row


def _arrow_schema(columns: list[tuple[str, str]]):
    import pyarrow as pa

    fields = []
    for name, mysql_type in columns:
        if mysql_type in _INT_TYPES:
            t = pa.int64()
        elif mysql_type in _FLOAT_TYPES:
            t = pa.float64()
        else:
            t = pa.string()  # varchar/text/datetime/decimal → cast downstream
        fields.append(pa.field(name, t))
    return pa.schema(fields)


def mysqldump_to_parquet(
    dump_path: str,
    out_dir: str,
    tables: tuple[str, ...] | None = None,
    batch_rows: int = 50_000,
) -> dict[str, str]:
    """One streaming pass: every (selected) table in the dump becomes
    ``{out_dir}/{table}.parquet``. Returns table → path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    schemas: dict[str, pa.Schema] = {}
    writers: dict[str, pq.ParquetWriter] = {}
    buffers: dict[str, list[list]] = {}
    paths: dict[str, str] = {}

    def flush(table: str) -> None:
        rows = buffers.get(table)
        if not rows:
            return
        schema = schemas[table]
        cols = [
            pa.array([r[k] for r in rows], type=schema.field(k).type)
            for k in range(len(schema))
        ]
        writers[table].write_table(pa.Table.from_arrays(cols, schema=schema))
        buffers[table] = []

    with _open(dump_path) as f:
        current_create: str | None = None
        create_lines: list[str] = []
        for line in f:
            if current_create is not None:
                if line.startswith(")"):
                    cols = parse_create_columns(create_lines)
                    if cols and (tables is None or current_create in tables):
                        schemas[current_create] = _arrow_schema(cols)
                        path = os.path.join(out_dir, f"{current_create}.parquet")
                        writers[current_create] = pq.ParquetWriter(
                            path, schemas[current_create]
                        )
                        buffers[current_create] = []
                        paths[current_create] = path
                    current_create, create_lines = None, []
                else:
                    create_lines.append(line)
                continue
            m = _CREATE_RE.match(line)
            if m:
                current_create = m.group(1)
                continue
            m = _INSERT_RE.match(line)
            if m and m.group(1) in writers:
                table = m.group(1)
                schema = schemas[table]
                width = len(schema)
                for row in iter_value_tuples(line[m.end() :]):
                    if len(row) != width:
                        raise ValueError(
                            f"{table}: row width {len(row)} != schema {width}"
                        )
                    # stringify non-null values for string-typed columns
                    # (datetime/decimal literals arrive as parsed str already;
                    # ints landing in string columns get str()'d)
                    buffers[table].append(
                        [
                            None
                            if v is None
                            else (
                                str(v)
                                if schema.field(k).type == "string"
                                and not isinstance(v, str)
                                else v
                            )
                            for k, v in enumerate(row)
                        ]
                    )
                    if len(buffers[table]) >= batch_rows:
                        flush(table)

    for table in list(writers):
        flush(table)
        writers[table].close()
    return paths


NOVA_TABLES = ("instances", "instance_extra", "instance_actions")
# mysqldump datetime literals are 'YYYY-MM-DD HH:MM:SS' strings
_TS_COLUMNS = {
    "instances": ("created_at", "updated_at", "deleted_at"),
    "instance_actions": ("created_at", "updated_at"),
}


def nova_tables_from_dump(spark, dump_path: str, out_dir: str | None = None):
    """Convert a Nova mysqldump and load the three billing tables as
    DataFrames with proper timestamp columns: (instances, instance_extra,
    instance_actions) — the inputs of plans/billing.py:nova_invoice via
    nova_instance_dim (reference model.py:211-300 equivalents).

    Each file is read with the schema the converter wrote, so Spark runs
    no footer-reading job to infer it. Without ``out_dir`` the files go
    to a ``nova_dump_pq_*`` temporary directory owned by the returned
    DataFrames: Spark reads them lazily, so the directory is removed only
    once all three DataFrames are garbage (at the latest at exit)."""
    import tempfile

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import from_arrow_schema

    owner = None
    if out_dir is None:
        owner = tempfile.TemporaryDirectory(prefix="nova_dump_pq_")
        out_dir = owner.name
    paths = mysqldump_to_parquet(dump_path, out_dir, tables=NOVA_TABLES)
    out = []
    for table in NOVA_TABLES:
        if table not in paths:
            raise ValueError(f"dump has no `{table}` table")
        schema = from_arrow_schema(pq.read_schema(paths[table]))
        df = spark.read.schema(schema).parquet(paths[table])
        for c in _TS_COLUMNS.get(table, ()):
            if c in df.columns:
                df = df.withColumn(c, F.to_timestamp(c))
        df._converted_dump_dir = owner
        out.append(df)
    return tuple(out)
