"""W3: native bulk-load execution — the reference's core perf idea.

Upstream ``ETLAlchemySource.send_data`` (≈L750–850, SURVEY.md §0
caveat) shells out to each DBMS's native bulk path (MySQL ``LOAD DATA
LOCAL INFILE``, Postgres ``COPY FROM``, SQL Server ``bcp``, Oracle
``sqlldr``) instead of row INSERTs — a 10–100× load speedup. The
Spark-first re-expression:

1. ``write_csv_for_bulk_load`` (sources/files.py) emits the dialect's
   CSV conventions ONE FILE PER PARTITION — at cluster scale every
   partition file feeds a parallel loader invocation instead of the
   reference's single serialized dump.
2. ``bulk_load_statements`` renders the per-file native bulk statement
   for the destination dialect (pure string generation — auditable,
   and exactly what a deployment issues through its DB connection);
   the Postgres/MySQL legs run them through any DBAPI/JDBC connection.
3. ``bulk_load_duckdb`` EXECUTES the path end-to-end against an
   embedded DuckDB database, whose native bulk path is an Arrow scan,
   not a text file: one ``DataFrame.toArrow()`` of the staged columns
   (no stage files, no Hadoop file commit) → DuckDB reads it in place
   under a temporary name → ``CREATE TABLE`` → ``INSERT INTO table
   SELECT … FROM`` it → row-count audit, in one transaction.
   ``bulk_load_sqlite`` is the same for SQLite through the stdlib
   driver, a throwaway DuckDB connection reading the Arrow table into
   a temporary table. Both run one shared body (``_load``) and differ
   only in how the temporary table is filled (SQLite refuses NaN), how
   a table's columns are read, SQLite's per-file writer lock and how
   the INSERT reports its row count.

One Spark job per table: the Arrow collect is the only job that reads
the source. When asked to standardize, the loaders compute the
standardizer's stats in the destination — one SQL aggregate of
``stat_terms`` (operators/standardize.py) over the temporary table —
``decide`` from that row, and apply the decisions there: ``CREATE
TABLE`` gets the narrowed or boolean types without the dropped
columns, and the ``INSERT … SELECT`` casts and skips columns. Suffix-
ignored columns (T9) need no stats and are never staged.

Scale note: the per-file statements of (2) are independent — a real
deployment fans them out (one loader session per partition file, as
``mysqlimport --use-threads`` does). The embedded legs hold one table
in the driver process, so Spark's ``spark.driver.maxResultSize``
(default 1g) bounds one table's handoff; a larger table fails the
load with Spark's error and leaves the destination as it was. The
read-back (``read_duckdb_table``, ``read_sqlite_table``) holds one
table on the driver the same way, as one Arrow table handed to
``createDataFrame``.
"""

from __future__ import annotations

import contextlib
import glob
import os
import threading
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from etlalchemy_spark.operators.standardize import (
    ColumnDecision,
    _q,
    apply_decisions,
    decide,
    is_ignored,
    keep_all,
    stat_terms,
)
from etlalchemy_spark.sources.files import CSV_DIALECT_OPTIONS

# Spark simpleString → destination column type for CREATE TABLE before
# bulk load (schema fidelity beyond this — downsized ints, VARCHAR(n) —
# comes from operators/ddl.create_table_ddl when standardizer decisions
# are available).
_BULK_DDL_TYPES: dict[str, dict[str, str]] = {
    "duckdb": {
        "tinyint": "TINYINT",
        "smallint": "SMALLINT",
        "int": "INTEGER",
        "bigint": "BIGINT",
        "boolean": "BOOLEAN",
        "float": "REAL",
        "double": "DOUBLE",
        "string": "VARCHAR",
        "timestamp": "TIMESTAMP",
        "timestamp_ntz": "TIMESTAMP",
        "date": "DATE",
        "binary": "BLOB",
    },
    "postgresql": {
        "tinyint": "SMALLINT",
        "smallint": "SMALLINT",
        "int": "INTEGER",
        "bigint": "BIGINT",
        "boolean": "BOOLEAN",
        "float": "REAL",
        "double": "DOUBLE PRECISION",
        "string": "TEXT",
        "timestamp": "TIMESTAMP",
        "timestamp_ntz": "TIMESTAMP",
        "date": "DATE",
        "binary": "BYTEA",
    },
    "mysql": {
        "tinyint": "TINYINT",
        "smallint": "SMALLINT",
        "int": "INT",
        "bigint": "BIGINT",
        "boolean": "TINYINT(1)",
        "float": "FLOAT",
        "double": "DOUBLE",
        "string": "TEXT",
        "timestamp": "DATETIME(6)",
        "timestamp_ntz": "DATETIME(6)",
        "date": "DATE",
        "binary": "BLOB",
    },
    "mssql": {
        "tinyint": "TINYINT",
        "smallint": "SMALLINT",
        "int": "INT",
        "bigint": "BIGINT",
        "boolean": "BIT",
        "float": "REAL",
        "double": "FLOAT",
        "string": "NVARCHAR(MAX)",
        "timestamp": "DATETIME2(6)",
        "timestamp_ntz": "DATETIME2(6)",
        "date": "DATE",
        "binary": "VARBINARY(MAX)",
    },
    "oracle": {
        "tinyint": "NUMBER(3)",
        "smallint": "NUMBER(5)",
        "int": "NUMBER(10)",
        "bigint": "NUMBER(19)",
        "boolean": "NUMBER(1)",
        "float": "BINARY_FLOAT",
        "double": "BINARY_DOUBLE",
        "string": "CLOB",
        "timestamp": "TIMESTAMP(6)",
        "timestamp_ntz": "TIMESTAMP(6)",
        "date": "DATE",
        "binary": "BLOB",
    },
    # SQLite columns are affinity-typed; timestamps/dates/decimals are
    # stored as TEXT (ISO-8601 / decimal strings) and re-typed by the
    # read-back (read_sqlite_table) from the frame's schema — the
    # lossless choice, since NUMERIC affinity would coerce them through
    # float.
    "sqlite": {
        "tinyint": "INTEGER",
        "smallint": "INTEGER",
        "int": "INTEGER",
        "bigint": "INTEGER",
        "boolean": "INTEGER",
        "float": "REAL",
        "double": "REAL",
        "string": "TEXT",
        "timestamp": "TEXT",
        "timestamp_ntz": "TEXT",
        "date": "TEXT",
        "binary": "BLOB",
    },
}


def _quote_ident(name: str, dialect: str) -> str:
    # double any embedded quote char: an identifier containing the
    # quote must not break (or inject into) the generated statement
    if dialect == "mysql":
        return "`" + name.replace("`", "``") + "`"
    return '"' + name.replace('"', '""') + '"'


def _sql_str(text: str) -> str:
    """A file path or name as a SQL single-quoted literal body (quotes
    doubled)."""
    return text.replace("'", "''")


def _ddl_type(dtype, dialect: str) -> str:
    """Destination column type for one Spark type."""
    s = dtype.simpleString()
    if s.startswith("decimal"):
        # sqlite NUMERIC affinity coerces through float — keep
        # decimals as TEXT there (re-typed by read_sqlite_table)
        return "TEXT" if dialect == "sqlite" else "DECIMAL" + s[len("decimal"):]
    return _BULK_DDL_TYPES[dialect].get(s, "VARCHAR" if dialect == "duckdb" else "TEXT")


def _column_defs(df: DataFrame, dialect: str) -> str:
    return ", ".join(
        f"{_quote_ident(f.name, dialect)} {_ddl_type(f.dataType, dialect)}"
        for f in df.schema.fields
    )


def schema_ddl(df: DataFrame, table: str, dialect: str = "duckdb") -> str:
    """``CREATE TABLE`` straight from the DataFrame schema (the
    pre-load half of upstream ``Table.create``, W4)."""
    return f"CREATE TABLE {_quote_ident(table, dialect)} ({_column_defs(df, dialect)})"


def partition_files(csv_dir: str) -> list[str]:
    """The partition files Spark wrote (sorted for determinism).
    Zero-byte files (empty partitions) are skipped — loaders have
    nothing to do with them and DuckDB's sniffer rejects them."""
    return sorted(
        f
        for f in glob.glob(os.path.join(csv_dir, "part-*"))
        if os.path.getsize(f) > 0
    )


# sqlldr field spec per Spark type: how the ctl file tells the loader
# to parse each delimited text field. Formats match the _TS_US writer
# conventions in sources/files.py.
_SQLLDR_FIELD_TYPES: dict[str, str] = {
    "tinyint": "INTEGER EXTERNAL",
    "smallint": "INTEGER EXTERNAL",
    "int": "INTEGER EXTERNAL",
    "bigint": "INTEGER EXTERNAL",
    "boolean": "CHAR(5)",
    "float": "FLOAT EXTERNAL",
    "double": "FLOAT EXTERNAL",
    "string": "CHAR(32767)",
    "timestamp": 'TIMESTAMP "YYYY-MM-DD HH24:MI:SS.FF6"',
    "timestamp_ntz": 'TIMESTAMP "YYYY-MM-DD HH24:MI:SS.FF6"',
    "date": 'DATE "YYYY-MM-DD"',
}


def sqlldr_control_file(df: DataFrame, table: str) -> str:
    """Oracle ``sqlldr`` control file for the dialect CSV conventions
    (upstream send_data's Oracle leg, ≈L750–850). One shared ctl file
    serves every partition file: each loader invocation overrides the
    data file with ``data=`` on the command line — N parallel sqlldr
    sessions, one per partition, instead of one monolithic load.
    Empty fields load as NULL (the 'oracle' nullValue convention)."""
    opts = CSV_DIALECT_OPTIONS["oracle"]
    delim = opts.get("delimiter", ",")
    fields = []
    for f in df.schema.fields:
        s = f.dataType.simpleString()
        if s.startswith("decimal"):
            ftype = "DECIMAL EXTERNAL"
        else:
            ftype = _SQLLDR_FIELD_TYPES.get(s, "CHAR(32767)")
        fields.append(f"  {_quote_ident(f.name, 'oracle')} {ftype}")
    body = ",\n".join(fields)
    return (
        "LOAD DATA\n"
        "CHARACTERSET UTF8\n"
        f"APPEND INTO TABLE {_quote_ident(table, 'oracle')}\n"
        f"FIELDS TERMINATED BY '{delim}' OPTIONALLY ENCLOSED BY '\"'\n"
        "TRAILING NULLCOLS\n"
        f"(\n{body}\n)\n"
    )


def bcp_format_file(df: DataFrame) -> str:
    """SQL Server ``bcp`` non-XML format file for the tab-delimited
    character-mode CSV the 'mssql' conventions emit (upstream
    send_data's SQL Server leg). Character mode (SQLCHAR, prefix 0,
    max length 0 = delimiter-bounded) with the final field terminated
    by the row terminator; string columns carry the server's default
    collation marker, non-char columns an empty collation."""
    n = len(df.schema.fields)
    lines = ["14.0", str(n)]
    for i, f in enumerate(df.schema.fields, start=1):
        term = r"\t" if i < n else r"\n"
        is_char = f.dataType.simpleString() == "string"
        collation = "SQL_Latin1_General_CP1_CI_AS" if is_char else '""'
        lines.append(
            f'{i}  SQLCHAR  0  0  "{term}"  {i}  {f.name}  {collation}'
        )
    return "\n".join(lines) + "\n"


def write_loader_artifacts(
    df: DataFrame, table: str, csv_dir: str, dialect: str
) -> dict[str, str]:
    """Write the per-table loader sidecar files next to the partition
    CSVs and return {kind: path}: the bcp format file ('mssql') or the
    sqlldr control file ('oracle'). Other dialects need none."""
    out: dict[str, str] = {}
    if dialect == "mssql":
        p = os.path.join(csv_dir, f"{table}.bcp.fmt")
        with open(p, "w") as fh:
            fh.write(bcp_format_file(df))
        out["format_file"] = p
    elif dialect == "oracle":
        p = os.path.join(csv_dir, f"{table}.ctl")
        with open(p, "w") as fh:
            fh.write(sqlldr_control_file(df, table))
        out["control_file"] = p
    return out


def bulk_load_statements(
    table: str, csv_dir: str, dialect: str = "postgresql", columns: list[str] | None = None
) -> list[str]:
    """One native bulk-load statement (or loader command line) per
    partition file, matching the CSV conventions
    ``write_csv_for_bulk_load`` used for ``dialect``. Parity: upstream
    ``send_data`` ≈L750–850 — same loaders, but per-partition-file
    (parallelizable) instead of one monolithic dump. The mssql/oracle
    command lines reference the sidecar files from
    ``write_loader_artifacts`` and leave connection flags
    (-S/-U/-P, userid=) to the deployment environment.

    ``columns`` names the staged files' column ORDER explicitly (the
    COPY/LOAD column list) — how an append maps by NAME into an
    existing table whose physical order differs. Only duckdb/postgres/
    mysql statements can express a column list; passing ``columns``
    for the others raises instead of silently loading positionally
    (for oracle the by-name mapping belongs in the ctl file —
    regenerate it from the reordered DataFrame via
    write_loader_artifacts and sqlldr maps fields to the named
    columns; bcp format files and sqlite ``.import`` are positional
    by design)."""
    if columns and dialect not in ("duckdb", "postgresql", "mysql"):
        raise ValueError(
            f"bulk_load_statements: the {dialect} loader command cannot "
            "express a column list — a by-name append is not "
            "representable here (for oracle, regenerate the ctl file "
            "from the reordered DataFrame instead)"
        )
    opts = CSV_DIALECT_OPTIONS.get(dialect, CSV_DIALECT_OPTIONS["postgresql"])
    delim = opts.get("delimiter", ",")
    nullv = opts.get("nullValue", "")
    q = _quote_ident(table, dialect)
    collist = (
        " (" + ", ".join(_quote_ident(c, dialect) for c in columns) + ")"
        if columns
        else ""
    )
    stmts: list[str] = []
    for f in partition_files(csv_dir):
        if dialect == "mysql":
            stmts.append(
                f"LOAD DATA LOCAL INFILE '{_sql_str(f)}' INTO TABLE {q} "
                f"FIELDS TERMINATED BY '{delim}' OPTIONALLY ENCLOSED BY '\"' "
                f"ESCAPED BY '\\\\'"
                + collist
            )
        elif dialect == "duckdb":
            # quote-doubling escape + quoted-null rejection: the exact
            # mirror of the "duckdb" writer conventions (lossless for
            # NULL vs '' vs a literal nullstr-lookalike)
            stmts.append(
                f"COPY {q}{collist} FROM '{_sql_str(f)}' "
                f"(FORMAT CSV, HEADER FALSE, DELIMITER '{delim}', "
                f"QUOTE '\"', ESCAPE '\"', NULLSTR '{nullv}', "
                f"ALLOW_QUOTED_NULLS FALSE)"
            )
        elif dialect == "postgresql":
            stmts.append(
                f"COPY {q}{collist} FROM '{_sql_str(f)}' WITH "
                f"(FORMAT csv, HEADER false, DELIMITER '{delim}', "
                f"QUOTE '\"', ESCAPE '\\', NULL '{nullv}')"
            )
        elif dialect == "sqlite":
            # the sqlite3 CLI has no SQL-level bulk statement; the
            # reference drives `.import` — emit the CLI command line
            # (bulk_load_sqlite below EXECUTES the equivalent through
            # the stdlib driver)
            stmts.append(f'.import --csv "{f}" {table}')
        elif dialect == "mssql":
            # -f carries character mode + terminators inside the format
            # file; combining it with -c/-t is a bcp switch conflict
            fmt = os.path.join(csv_dir, f"{table}.bcp.fmt")
            stmts.append(
                f'bcp {table} in "{f}" -f "{fmt}" -e "{f}.err" -b 10000'
            )
        elif dialect == "oracle":
            ctl = os.path.join(csv_dir, f"{table}.ctl")
            stmts.append(
                f"sqlldr control='{ctl}' data='{f}' log='{f}.log' "
                f"bad='{f}.bad' errors=0 direct=true"
            )
        else:
            raise ValueError(f"no bulk-load statement template for {dialect}")
    return stmts


@dataclass
class LoadReport:
    """What one bulk load decided and inserted; the loaders fill it in
    when passed as ``report=``."""

    decisions: list[ColumnDecision] = field(default_factory=list)
    rows: int = 0  # rows this load inserted (the INSERT's own count)
    loaded: DataFrame | None = None  # the frame with the decisions applied


def _preflight(table: str, mode: str, have: list[str] | None, want: list[str], exact: bool = True) -> None:
    """Mode checks against the destination table's columns ``have``
    (None: no such table). ``want`` is what the load writes; with
    ``exact=False`` standardization may still drop some of it, so only
    a destination column the frame lacks is drift. A mode other than
    error, overwrite or append is refused."""
    if mode not in ("error", "overwrite", "append"):
        raise ValueError(f"unknown mode {mode!r}: use error, overwrite or append")
    if have is None:
        return
    if mode == "error":
        raise ValueError(f"table {table} already exists (mode=error)")
    drift = sorted(have) != sorted(want) if exact else not set(have) <= set(want)
    if mode == "append" and drift:
        raise ValueError(
            f"append into {table}: existing columns {sorted(have)} "
            f"!= DataFrame columns {sorted(want)} — the names must "
            "match as a set"
        )


def _stage(df: DataFrame, standardize_types: bool, ignored_suffixes: list[str] | None):
    """Collect the columns the load may keep as one Arrow table, in the
    table's one Spark job (suffix-ignored columns are never staged).
    ``timestamp`` columns cross as ``timestamp_ntz``: the session-local
    wall clock, the same value the dialect CSV writer renders as text.
    Returns the staged frame and the Arrow table."""
    suffixes = ignored_suffixes if standardize_types else None
    ignored = [c for c in df.columns if is_ignored(c, suffixes)]
    staged = df.drop(*ignored) if ignored else df
    cols = (f"CAST({_q(c)} AS TIMESTAMP_NTZ) AS {_q(c)}" if t == "timestamp" else _q(c) for c, t in staged.dtypes)
    return staged, staged.selectExpr(*cols).toArrow()


def _decide(
    con,
    tmp: str,
    df: DataFrame,
    staged: DataFrame,
    dialect: str,
    standardize: bool,
    ignored_suffixes: list[str] | None,
) -> tuple[list[ColumnDecision], DataFrame]:
    """The decisions, from one SQL aggregate of ``stat_terms`` over the
    staged rows in the temporary table ``tmp`` when ``standardize``,
    and ``df`` with them applied (a lazy plan whose schema costs no
    job). ``con`` is a DuckDB or sqlite3 connection."""
    if not standardize:
        decisions = keep_all(df)
    else:
        terms = stat_terms(staged.schema, lambda n: _quote_ident(n, dialect))
        cur = con.execute(f"SELECT {', '.join(terms)} FROM {tmp}")
        stats = dict(zip((d[0] for d in cur.description), cur.fetchone()))
        decisions = decide(df, stats, ignored_suffixes)
    return decisions, apply_decisions(df, decisions)


def _insert(table: str, tmp: str, staged: DataFrame, loaded: DataFrame, dialect: str) -> str:
    """One ``INSERT … SELECT`` from the temporary table: decided casts
    apply on the way in, dropped columns are never selected."""
    src = {f.name: f.dataType for f in staged.schema.fields}
    names, exprs = [], []
    for f in loaded.schema.fields:
        c = _quote_ident(f.name, dialect)
        names.append(c)
        exprs.append(
            c if f.dataType == src[f.name] else f"CAST({c} AS {_ddl_type(f.dataType, dialect)}) AS {c}"
        )
    return (
        f"INSERT INTO {_quote_ident(table, dialect)} ({', '.join(names)}) "
        f"SELECT {', '.join(exprs)} FROM {tmp}"
    )


def _duckdb_columns(con, table: str) -> list[str] | None:
    """The table's column names in order; None when the current schema,
    where the loads create their tables, has no such table."""
    sql = (
        "SELECT column_name FROM information_schema.columns "
        "WHERE table_schema = current_schema() AND table_name = ? ORDER BY ordinal_position"
    )
    return [r[0] for r in con.execute(sql, [table]).fetchall()] or None


def _load(
    con, dialect: str, df: DataFrame, table: str, mode: str, standardize_types: bool,
    ignored_suffixes: list[str] | None, report: LoadReport | None, *, columns, fill, rows_of,
    writer=contextlib.nullcontext(),
) -> int:
    """The load both engines share: pre-flight, stage, then one
    transaction that exposes the staged Arrow table as a temporary
    table, decides, runs the exact pre-flight, drops or creates the
    table and copies the kept columns in; returns the table's row count.

    Only ``error`` and ``append`` read the destination's columns before
    the stage collect, since only they can refuse an existing table; an
    ``overwrite`` reads nothing there, because its transaction's ``DROP
    TABLE IF EXISTS`` then ``CREATE`` is the whole check. An unknown
    mode is refused before anything is read or collected.

    Engine-specific: ``columns(con, table)`` reads the table's columns,
    ``fill(tmp, staged, data)`` is a context manager that makes the
    Arrow table ``data`` readable as the temporary table named ``tmp``
    and removes it on exit, ``rows_of(cursor)`` is the INSERT's own row
    count, and ``writer`` is held for the ``error``/``append``
    pre-flight read and for the transaction plus the count, never for
    the stage collect."""
    have = None
    if mode in ("error", "append"):
        with writer:
            have = columns(con, table)
    _preflight(table, mode, have, df.columns, exact=not standardize_types)
    staged, data = _stage(df, standardize_types, ignored_suffixes)
    q = _quote_ident(table, dialect)
    tmp = f"__stage_{table}"
    rows = 0
    with writer:
        con.execute("BEGIN")
        try:
            # a 0-row table fills nothing
            with fill(tmp, staged, data) if data.num_rows else contextlib.nullcontext():
                decisions, loaded = _decide(
                    con, _quote_ident(tmp, dialect), df, staged, dialect,
                    standardize_types and data.num_rows > 0, ignored_suffixes,
                )
                _preflight(table, mode, have, loaded.columns)
                if mode == "overwrite":
                    con.execute(f"DROP TABLE IF EXISTS {q}")
                if have is None:
                    con.execute(schema_ddl(loaded, table, dialect))
                if data.num_rows:
                    ins = _insert(table, _quote_ident(tmp, dialect), staged, loaded, dialect)
                    rows = rows_of(con.execute(ins))
            con.execute("COMMIT")
        except BaseException:
            con.execute("ROLLBACK")
            raise
        n = con.execute(f"SELECT COUNT(*) FROM {q}").fetchall()[0][0]
    if report is not None:
        report.decisions, report.rows, report.loaded = decisions, rows, loaded
    return n


def bulk_load_duckdb(
    df: DataFrame,
    db_path: str,
    table: str,
    mode: str = "overwrite",
    standardize_types: bool = False,
    ignored_suffixes: list[str] | None = None,
    report: LoadReport | None = None,
) -> int:
    """Execute the W3 path end-to-end into an embedded DuckDB database:
    the staged columns as one Arrow table → registered under a temporary
    name and read in place (no copy, no files) → ``CREATE TABLE`` → one
    ``INSERT … SELECT`` → the table's row count.
    ``mode``: overwrite (drop+create), append (create if absent;
    existing column names must match the loaded columns), error (fail
    if table exists); any other mode is refused before anything is
    read. ``error`` and ``append`` read the table's columns before the
    stage collect so a doomed load fails before the expensive work
    (only the exact append column match waits for the standardizer's
    drops, and still runs before the destination is touched);
    ``overwrite`` reads no catalog before the collect. The stats, DROP,
    CREATE and INSERT run in one transaction, so a failed load leaves
    the old table and its rows in place.

    ``standardize_types`` applies the standardizer (T2–T4, T8, and T9
    for ``ignored_suffixes``) from stats computed in DuckDB over the
    staged rows; ``report`` receives its decisions and the rows this
    load inserted."""
    import duckdb

    con = duckdb.connect(db_path)

    @contextlib.contextmanager
    def fill(tmp, staged, data):
        con.register(tmp, data)
        try:
            yield
        finally:
            con.unregister(tmp)

    try:
        return _load(
            con, "duckdb", df, table, mode, standardize_types, ignored_suffixes, report,
            columns=_duckdb_columns,
            fill=fill,
            rows_of=lambda cur: cur.fetchone()[0],
        )
    finally:
        con.close()


# --- executed sqlite leg ----------------------------------------------------
#
# The stdlib sqlite3 driver gives W3 a second EXECUTED leg: the
# .import-equivalent (CREATE TABLE + batched INSERTs) driven through the
# DBAPI connection. A throwaway DuckDB connection reads the staged Arrow
# table, so NULL and '' stay distinct and nothing is parsed in Python.

_SQLITE_BATCH_ROWS = 10_000


def _sqlite_read(f) -> str:
    """The DuckDB expression a staged column is read with for SQLite:
    float and double as DOUBLE with NaN refused (SQLite would store
    NULL), timestamps as the µs text the dialect CSV writer renders,
    dates and decimals as text for SQLite's TEXT columns, and integers,
    booleans (stored 1/0) and strings as they are."""
    c = _quote_ident(f.name, "duckdb")
    s = f.dataType.simpleString()
    if s in ("float", "double"):
        msg = _sql_str(f"column {f.name!r} holds NaN, which SQLite cannot store")
        return f"CASE WHEN isnan({c}) THEN error('{msg}') ELSE CAST({c} AS DOUBLE) END"
    if s in ("timestamp", "timestamp_ntz"):
        return f"strftime({c}, '%Y-%m-%d %H:%M:%S.%f')"
    return f"CAST({c} AS VARCHAR)" if s == "date" or s.startswith("decimal") else c


def _sqlite_insert(con, q: str, staged: DataFrame, data) -> None:
    """Fill the table ``q`` (``staged``'s columns, in order) from the
    Arrow table ``data``: a throwaway DuckDB connection reads it with
    ``_sqlite_read`` and its rows move into SQLite in ``executemany``
    batches. A NaN in a float or double column raises a ValueError
    naming the column."""
    import duckdb

    exprs = [_sqlite_read(f) for f in staged.schema.fields]
    ins = f"INSERT INTO {q} VALUES ({', '.join('?' for _ in exprs)})"
    reader = duckdb.connect()
    try:
        reader.register("stage", data)
        cur = reader.execute(f"SELECT {', '.join(exprs)} FROM stage")
        while batch := cur.fetchmany(_SQLITE_BATCH_ROWS):
            con.executemany(ins, batch)
    except duckdb.InvalidInputException as e:
        if "holds NaN" not in str(e):
            raise
        raise ValueError(str(e).split(": ", 1)[-1]) from e
    finally:
        reader.close()


# SQLite has one writer per database file, and a second writer waits at
# most the driver's 5 s busy timeout: concurrent loads into one file
# (Migration.run loads tables concurrently) take turns per file.
_SQLITE_WRITERS: defaultdict[str, threading.Lock] = defaultdict(threading.Lock)
_SQLITE_WRITERS_GUARD = threading.Lock()


def _sqlite_writer(db_path: str) -> threading.Lock:
    with _SQLITE_WRITERS_GUARD:
        return _SQLITE_WRITERS[os.path.realpath(db_path)]


def _sqlite_columns(con, table: str) -> list[str] | None:
    """The table's column names in order; None when there is no such table."""
    return [r[1] for r in con.execute(f"PRAGMA table_info({_quote_ident(table, 'sqlite')})")] or None


def bulk_load_sqlite(
    df: DataFrame,
    db_path: str,
    table: str,
    mode: str = "overwrite",
    standardize_types: bool = False,
    ignored_suffixes: list[str] | None = None,
    report: LoadReport | None = None,
) -> int:
    """Execute the sqlite leg of W3 end-to-end with the mode
    semantics, pre-flight ordering, transaction and standardization of
    ``bulk_load_duckdb`` (one shared body): a throwaway DuckDB
    connection reads the staged Arrow table, ``executemany`` batches
    fill a temporary table (the driver-level equivalent of the CLI
    ``.import`` the statement generator emits), the stats run there,
    and one ``INSERT … SELECT`` copies the kept columns. NULL and ''
    stay distinct. A NaN in a float or double column is refused inside
    the transaction (SQLite would store NULL), so an existing table
    keeps its rows. Loads into one database file take turns on its
    single writer for their transaction and, in ``error`` and
    ``append`` mode, for the pre-flight read of the table's columns;
    an ``overwrite`` takes the writer only for its transaction, and no
    load holds it for the stage collect."""
    import sqlite3

    con = sqlite3.connect(db_path, isolation_level=None)  # explicit BEGIN in _load

    @contextlib.contextmanager
    def fill(tmp, staged, data):
        t = _quote_ident(tmp, "sqlite")
        con.execute(f"CREATE TEMP TABLE {t} ({_column_defs(staged, 'sqlite')})")
        _sqlite_insert(con, t, staged, data)
        yield
        con.execute(f"DROP TABLE {t}")  # on failure the ROLLBACK removes it

    try:
        return _load(
            con, "sqlite", df, table, mode, standardize_types, ignored_suffixes, report,
            columns=_sqlite_columns,
            fill=fill,
            rows_of=lambda cur: cur.rowcount,
            writer=_sqlite_writer(db_path),
        )
    finally:
        con.close()


# --- read-back --------------------------------------------------------------
#
# A loaded table comes back to Spark as one Arrow table held on the
# driver, as the load's handoff was: the roundtrip proofs and the
# migration's FK check on resume-skipped tables read it this way.


def _to_spark(spark, data, schema) -> DataFrame:
    """The Arrow table ``data`` as a Spark DataFrame. With ``schema``,
    the columns it names are read and Arrow casts them to its types.
    Timestamps are made naive first (SQLite stores them as text). A
    ``timestamp`` is the session-local wall clock the load stored, so it
    is read in the session zone; a wall clock that a fall-back hour
    repeats reads as the earlier instant. Without a schema, naive
    timestamps read as ``timestamp_ntz`` and the other Arrow types map
    to Spark's."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import from_arrow_schema

    if schema is None:
        return spark.createDataFrame(data, from_arrow_schema(data.schema, prefer_timestamp_ntz=True))
    tz = spark.conf.get("spark.sql.session.timeZone")
    cols = []
    for f in schema.fields:
        col, s = data.column(f.name), f.dataType.simpleString()
        if s in ("timestamp", "timestamp_ntz"):
            col = col.cast(pa.timestamp("us"))
        if s == "timestamp":
            col = pc.assume_timezone(col, tz, ambiguous="earliest")
        cols.append(col)
    return spark.createDataFrame(pa.table(cols, names=schema.names), schema)


def read_duckdb_table(spark, db_path: str, table: str, schema=None) -> DataFrame:
    """A DuckDB table as a Spark DataFrame: the file opened read-only,
    the table taken as one Arrow table, the connection closed. ``schema``
    (the loaded frame's, for a roundtrip proof) names the columns to
    read and their Spark types."""
    import duckdb

    con = duckdb.connect(db_path, read_only=True)
    try:
        data = con.execute(f"SELECT * FROM {_quote_ident(table, 'duckdb')}").arrow()
    finally:
        con.close()
    return _to_spark(spark, data, schema)


def read_sqlite_table(spark, db_path: str, table: str, schema=None) -> DataFrame:
    """A SQLite table as a Spark DataFrame, as ``read_duckdb_table``:
    each column is built into Arrow from its declared type (INTEGER,
    REAL, TEXT or BLOB, as the loader creates them; another declared
    type is inferred from the values), so timestamps, dates and
    decimals stored as TEXT take their types from ``schema``."""
    import pathlib
    import sqlite3

    import pyarrow as pa

    types = {"INTEGER": pa.int64(), "REAL": pa.float64(), "TEXT": pa.string(), "BLOB": pa.binary()}
    q = _quote_ident(table, "sqlite")
    con = sqlite3.connect(pathlib.Path(db_path).resolve().as_uri() + "?mode=ro", uri=True)
    try:
        declared = [(r[1], types.get(r[2].upper())) for r in con.execute(f"PRAGMA table_info({q})")]
        rows = con.execute(f"SELECT * FROM {q}").fetchall()
    finally:
        con.close()
    values = list(zip(*rows)) or [()] * len(declared)
    data = pa.table({n: pa.array(v, type=t) for (n, t), v in zip(declared, values)})
    return _to_spark(spark, data, schema)
