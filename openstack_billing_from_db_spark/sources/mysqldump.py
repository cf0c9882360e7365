"""mysqldump → parquet converter (closes SURVEY.md S4).

The reference pipes the dump through the ``mysql2sqlite`` shell script
into an in-memory SQLite (reference fetch.py:98-124, model.py:181-188).
Spark has no use for SQLite: the useful twin is dump → parquet, after
which every read is a distributed columnar scan.

Design: a single streaming pass over the (possibly gzipped) dump file —
CREATE TABLE blocks give each table's column names and an arrow schema
(int-ish MySQL types → int64, float-ish → float64, everything else →
string). Each INSERT's VALUES list is checked against a compiled grammar
of MySQL literals (quoted strings with backslash escapes and '' doubling,
bare NULL/numbers) in one regex match, then split by one ``findall`` into
a flat list of cells; column ``k`` of a statement is every ``w``-th cell,
decoded and turned into one arrow array, so no Python code runs per
character or per row. Statement tables are buffered and written every
``batch_rows`` rows, one parquet row group each, so memory stays bounded
by the batch size and never by the dump size.

Scale note: a mysqldump is a single-node artifact (the reference's daily
file is ~15 MB gzipped, fetch.py:33) — driver-side conversion is the
right tool. Bulk history at cluster scale should use the parallel JDBC
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


# The quoted-string body is the unrolled loop; the alternation form
# (?:[^'\\]|\\.|'')* is ~3x slower in `re`.
_BODY = r"[^'\\]*(?:(?:\\.|'')[^'\\]*)*"
_BARE = r"[^\s'(),;]+"  # NULL or a number, converted after matching
_VALUE = rf"\s*(?:'{_BODY}'|{_BARE})\s*"
_TUPLE = rf"\({_VALUE}(?:,{_VALUE})*\)"
_ROWS_RE = re.compile(rf"\s*{_TUPLE}(?:\s*,\s*{_TUPLE})*", re.S)
# loose on its own, so only run over text _ROWS_RE accepted: one
# (quoted body, bare token, "," or ")") triple per cell
_CELL_RE = re.compile(rf"[\s,(]*(?:'({_BODY})'|({_BARE}))\s*([,)])", re.S)
_ESCAPE_RE = re.compile(r"\\(.)|''", re.S)
_ESCAPES = {"n": "\n", "t": "\t", "r": "\r", "0": "\0"}
_INT_RE = re.compile(r"-?\d+")


def _cells(text: str) -> list[tuple[str, str, str]]:
    """Validate the ``(...),(...);`` tail of an INSERT statement and split
    it into one (quoted body, bare token, terminator) triple per value."""
    m = _ROWS_RE.match(text)
    end = m.end() if m else 0
    if text[end:].strip() != ";":
        raise ValueError(f"malformed VALUES at offset {end}: {text[end:end + 40]!r}")
    return _CELL_RE.findall(text)


def _unescape(m: re.Match) -> str:
    return "'" if m[1] is None else _ESCAPES.get(m[1], m[1])


def _value(quoted: str, bare: str):
    """A cell as Python: bare NULL → None, bare ints → int, other bare
    tokens → float, quoted strings with MySQL escapes undone."""
    if bare:
        if bare.upper() == "NULL":
            return None
        return int(bare) if _INT_RE.fullmatch(bare) else float(bare)
    if "\\" in quoted or "''" in quoted:
        return _ESCAPE_RE.sub(_unescape, quoted)
    return quoted


def iter_value_tuples(text: str) -> Iterator[list]:
    """Yield one Python list per row tuple of an INSERT's ``(...),(...);``
    tail; raises ValueError when the tail is malformed or truncated."""
    row: list = []
    for quoted, bare, term in _cells(text):
        row.append(_value(quoted, bare))
        if term == ")":
            yield row
            row = []


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


def _statement_table(values: str, schema):
    """One INSERT's VALUES tail as an arrow table; column ``k`` is every
    ``w``-th cell, and every row must end after exactly ``w`` cells."""
    import pyarrow as pa

    cells = _cells(values)
    w = len(schema)
    terms = [t for _, _, t in cells]
    if terms != ([","] * (w - 1) + [")"]) * (len(cells) // w):
        ends = [i + 1 for i, t in enumerate(terms) if t == ")"]
        width = next(b - a for a, b in zip([0, *ends], ends) if b - a != w)
        raise ValueError(f"row width {width} != schema {w}")
    arrays = []
    for k, field in enumerate(schema):
        col = [_value(q, b) for q, b, _ in cells[k::w]]
        if field.type == pa.string():
            # bare numbers landing in string columns get str()'d
            col = [v if v is None or isinstance(v, str) else str(v) for v in col]
        arrays.append(pa.array(col, type=field.type))
    return pa.Table.from_arrays(arrays, schema=schema)


def mysqldump_to_parquet(
    dump_path: str,
    out_dir: str,
    tables: tuple[str, ...] | None = None,
    batch_rows: int = 50_000,
) -> dict[str, str]:
    """One streaming pass: every (selected) table in the dump becomes
    ``{out_dir}/{table}.parquet``, in row groups of ``batch_rows`` rows.
    Returns table → path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    schemas: dict[str, pa.Schema] = {}
    writers: dict[str, pq.ParquetWriter] = {}
    pending: dict[str, list[pa.Table]] = {}
    paths: dict[str, str] = {}

    def flush(table: str, final: bool = False) -> None:
        buffered = pa.concat_tables(pending[table])
        n = buffered.num_rows
        cut = n if final else n - n % batch_rows
        for off in range(0, cut, batch_rows):
            writers[table].write_table(buffered.slice(off, batch_rows))
        pending[table] = [buffered.slice(cut)]

    with _open(dump_path) as f:
        current_create: str | None = None
        create_lines: list[str] = []
        for lineno, line in enumerate(f, 1):
            if current_create is not None:
                if line.startswith(")"):
                    cols = parse_create_columns(create_lines)
                    if cols and (tables is None or current_create in tables):
                        schema = schemas[current_create] = _arrow_schema(cols)
                        path = os.path.join(out_dir, f"{current_create}.parquet")
                        writers[current_create] = pq.ParquetWriter(path, schema)
                        pending[current_create] = [schema.empty_table()]
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
                try:
                    pending[table].append(_statement_table(line[m.end() :], schemas[table]))
                except ValueError as e:
                    raise ValueError(f"{table}: {e} (dump line {lineno})") from e
                if sum(t.num_rows for t in pending[table]) >= batch_rows:
                    flush(table)

    for table in list(writers):
        flush(table, final=True)
        writers[table].close()
    return paths


NOVA_TABLES = ("instances", "instance_extra", "instance_actions")
# mysqldump datetime literals are 'YYYY-MM-DD HH:MM:SS' strings
_TS_COLUMNS = {
    "instances": ("created_at", "updated_at", "deleted_at"),
    "instance_actions": ("created_at", "updated_at"),
}


def nova_tables_from_dump(spark, dump_path: str, out_dir: str):
    """Convert a Nova mysqldump and load the three billing tables as
    DataFrames with proper timestamp columns: (instances, instance_extra,
    instance_actions) — the inputs of plans/billing.py:nova_invoice via
    nova_instance_dim (reference model.py:211-300 equivalents)."""
    from pyspark.sql import functions as F

    paths = mysqldump_to_parquet(dump_path, out_dir, tables=NOVA_TABLES)
    out = []
    for table in NOVA_TABLES:
        if table not in paths:
            raise ValueError(f"dump has no `{table}` table")
        df = spark.read.parquet(paths[table])
        for c in _TS_COLUMNS.get(table, ()):
            if c in df.columns:
                df = df.withColumn(c, F.to_timestamp(c))
        out.append(df)
    return tuple(out)
