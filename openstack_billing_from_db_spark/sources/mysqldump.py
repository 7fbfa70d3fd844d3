"""mysqldump → parquet converter (closes SURVEY.md S4).

The reference pipes the dump through the ``mysql2sqlite`` shell script
into an in-memory SQLite (reference fetch.py:98-124, model.py:181-188).
Spark has no use for SQLite: the useful twin is dump → parquet, after
which every read is a distributed columnar scan.

Design: a single streaming pass over the (possibly gzipped) dump file —
CREATE TABLE blocks give each table's column names and an arrow schema
(int-ish MySQL types → int64, float-ish → float64, everything else →
string); each INSERT line is tokenized by one C-level regex pass that
understands MySQL quoting/escapes, and rows are flushed to a
ParquetWriter in batches, so memory stays bounded by the batch size and
never by the dump size.

Scale note: conversion is driver-side Python and runs at ~45k rows/s
(traced ``mysqldump.rows_per_s`` on a 7k-row Nova dump, 4 CPUs) — about
25 s for a million rows. Bulk history should use the parallel JDBC reader
(sources/tables.py:nova_jdbc_reader) or land as parquet upstream.
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


# One value per match: a '(' opening a row (after the commas between
# rows), then a quoted string body (unrolled loop over the \x and ''
# escapes, possessive so a long value never backtracks) or a bare
# NULL/number, then the ',' or ')' after it. Any other character is its own
# match (malformed input, or the ';' ending the statement), so nothing but
# trailing whitespace is skipped.
_VALUE_RE = re.compile(
    r"\s*+(?:(?:(?:,[\s,]*+)?(\()\s*+)?"
    r"(?:'([^'\\]*+(?:(?:\\.|'')[^'\\]*+)*+)'|([^\s,()';]++))\s*+([,)])|(.))",
    re.S,
)
_ESCAPE_RE = re.compile(r"\\(.)|''", re.S)
_ESCAPES = {"n": "\n", "t": "\t", "r": "\r", "0": "\0"}


def _unescape(m: re.Match) -> str:
    c = m.group(1)
    return "'" if c is None else _ESCAPES.get(c, c)


def iter_value_tuples(text: str) -> Iterator[list]:
    """Tokenize the ``(...),(...)`` tail of an INSERT statement.

    Handles MySQL quoting: single-quoted strings with backslash escapes
    and '' doubling; bare NULL; int/float literals. Yields one Python
    list per row tuple; anything after the closing ``;`` is ignored, and
    malformed input raises ``ValueError``."""
    row: list | None = None
    for opens, quoted, bare, delim, other in _VALUE_RE.findall(text):
        if other:
            if other == ";" and row is None:
                return
            raise ValueError(f"malformed VALUES at {other!r} after {row!r}")
        if opens:
            if row is not None:
                raise ValueError(f"'(' inside row {row!r}")
            row = []
        elif row is None:
            raise ValueError(f"value {quoted or bare!r} outside a row")
        if bare:
            if bare.isdigit() or (bare[0] == "-" and bare[1:].isdigit()):
                row.append(int(bare))
            elif bare.upper() == "NULL":
                row.append(None)
            else:
                row.append(float(bare))
        elif "\\" in quoted or "''" in quoted:
            row.append(_ESCAPE_RE.sub(_unescape, quoted))
        else:
            row.append(quoted)
        if delim == ")":
            yield row
            row = None
    if row is not None:
        raise ValueError(f"unterminated row {row!r}")


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
        cols = []
        for field, values in zip(schema, zip(*rows)):
            if field.type == pa.string():
                # datetime/decimal literals arrive as parsed str already;
                # a bare number landing in a string column gets str()'d
                values = [v if v is None or isinstance(v, str) else str(v) for v in values]
            cols.append(pa.array(values, type=field.type))
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
                width = len(schemas[table])
                for row in iter_value_tuples(line[m.end() :]):
                    if len(row) != width:
                        raise ValueError(
                            f"{table}: row width {len(row)} != schema {width}"
                        )
                    buffers[table].append(row)
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
        ts = _TS_COLUMNS.get(table, ())
        df = spark.read.schema(schema).parquet(paths[table]).selectExpr(
            *[f"to_timestamp(`{c}`) AS `{c}`" if c in ts else f"`{c}`" for c in schema.names]
        )
        df._converted_dump_dir = owner
        out.append(df)
    return tuple(out)
