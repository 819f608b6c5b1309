"""W3 native bulk-load path (upstream send_data ≈L750–850): dialect
CSV → the native statement per partition file for the server dialects,
and the executed DuckDB and SQLite legs (Arrow handoff → CREATE TABLE →
INSERT … SELECT) → lossless round-trip."""

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from etlalchemy_spark.sources.bulkload import (
    bulk_load_duckdb,
    bulk_load_statements,
    partition_files,
    read_duckdb_table,
    schema_ddl,
)
from etlalchemy_spark.sources.files import write_csv_for_bulk_load


@pytest.fixture()
def tricky(spark):
    # delimiter/quote/escape/NULL torture: commas, quotes, backslashes,
    # the literal NULL marker as data, negative and fractional doubles
    rows = [
        (1, "plain", 1.5),
        (2, "comma, inside", -2.25),
        (3, 'quote " inside', 0.1),
        (4, "back\\slash", 1e300),
        (5, None, None),
        (6, r"\N", 42.0),  # literal backslash-N string, not NULL
        (7, "", 0.0),  # empty string, not NULL
    ]
    return spark.createDataFrame(rows, "id int, s string, v double")


def test_schema_ddl_types(spark):
    df = spark.createDataFrame([(1, "x", 1.0)], "id bigint, s string, v double")
    ddl = schema_ddl(df, "t", "duckdb")
    assert ddl == 'CREATE TABLE "t" ("id" BIGINT, "s" VARCHAR, "v" DOUBLE)'
    pg = schema_ddl(df, "t", "postgresql")
    assert "DOUBLE PRECISION" in pg and "TEXT" in pg


def test_quoted_identifiers_escape_embedded_quotes(spark):
    df = spark.createDataFrame([(1,)], 'id int')
    assert 'CREATE TABLE "we""ird"' in schema_ddl(df, 'we"ird', "duckdb")
    assert "`we``ird`" in schema_ddl(df, "we`ird", "mysql")


def test_statements_per_partition_file(spark, tmp_path):
    df = spark.range(100).repartition(4)
    d = str(tmp_path / "csv")
    write_csv_for_bulk_load(df, d, dialect="postgresql")
    stmts = bulk_load_statements("t", d, "postgresql")
    assert len(stmts) == 4
    assert all(s.startswith('COPY "t" FROM') for s in stmts)
    my = bulk_load_statements("t", d, "mysql")
    assert all("LOAD DATA LOCAL INFILE" in s for s in my)


def test_duckdb_roundtrip_lossless(spark, tricky, tmp_path):
    db = str(tmp_path / "dest.duckdb")
    n = bulk_load_duckdb(tricky, db, "tricky")
    assert n == 7
    con = duckdb.connect(db)
    got = {
        r[0]: (r[1], r[2])
        for r in con.execute("SELECT id, s, v FROM tricky ORDER BY id").fetchall()
    }
    con.close()
    want = {
        r["id"]: (r["s"], r["v"])
        for r in tricky.collect()
    }
    assert got == want


def test_duckdb_roundtrip_doubles_bit_exact(spark, tmp_path):
    # the Arrow handoff and the Arrow read-back carry doubles as binary:
    # every bit must come back, and so must the schema (nullability too)
    df = spark.range(1000).select(
        F.col("id").cast("int").alias("id"),
        (F.col("id") / 7.0 * 1.000000001).alias("v"),
    )
    db = str(tmp_path / "d2.duckdb")
    bulk_load_duckdb(df, db, "doubles")
    back = read_duckdb_table(spark, db, "doubles", df.schema)
    assert back.schema == df.schema
    src = {r["id"]: r["v"] for r in df.collect()}
    got = {r["id"]: r["v"] for r in back.collect()}
    assert got == src


def test_mode_semantics(spark, tmp_path):
    df = spark.createDataFrame([(1,)], "id int")
    db = str(tmp_path / "m.duckdb")
    assert bulk_load_duckdb(df, db, "t", mode="overwrite") == 1
    assert bulk_load_duckdb(df, db, "t", mode="append") == 2
    assert bulk_load_duckdb(df, db, "t", mode="overwrite") == 1
    with pytest.raises(ValueError, match="mode=error"):
        bulk_load_duckdb(df, db, "t", mode="error")


# --- mssql bcp / oracle sqlldr artifact generation --------------------------

from etlalchemy_spark.sources.bulkload import (
    bcp_format_file,
    bulk_load_sqlite,
    read_sqlite_table,
    sqlldr_control_file,
    write_loader_artifacts,
)


def _typed_df(spark):
    return spark.createDataFrame(
        [(1, "x", 2.5)], "id bigint, name string, v double"
    )


def test_bcp_format_file_exact(spark):
    fmt = bcp_format_file(_typed_df(spark))
    lines = fmt.splitlines()
    assert lines[0] == "14.0"
    assert lines[1] == "3"
    assert lines[2] == '1  SQLCHAR  0  0  "\\t"  1  id  ""'
    assert lines[3] == '2  SQLCHAR  0  0  "\\t"  2  name  SQL_Latin1_General_CP1_CI_AS'
    assert lines[4] == '3  SQLCHAR  0  0  "\\n"  3  v  ""'


def test_sqlldr_control_file_exact(spark):
    df = spark.createDataFrame(
        [], "id bigint, name string, v double, ts timestamp, d date"
    )
    ctl = sqlldr_control_file(df, "target")
    assert 'APPEND INTO TABLE "target"' in ctl
    assert "FIELDS TERMINATED BY ',' OPTIONALLY ENCLOSED BY '\"'" in ctl
    assert "TRAILING NULLCOLS" in ctl
    assert '"id" INTEGER EXTERNAL' in ctl
    assert '"name" CHAR(32767)' in ctl
    assert '"v" FLOAT EXTERNAL' in ctl
    assert '"ts" TIMESTAMP "YYYY-MM-DD HH24:MI:SS.FF6"' in ctl
    assert '"d" DATE "YYYY-MM-DD"' in ctl


def test_mssql_oracle_statements_reference_artifacts(spark, tmp_path):
    df = (
        spark.range(100)
        .select(
            "id",
            F.col("id").cast("string").alias("name"),
            (F.col("id") * 1.5).alias("v"),
        )
        .repartition(2)
    )
    d = str(tmp_path / "csv")
    write_csv_for_bulk_load(df, d, dialect="mssql")
    arts = write_loader_artifacts(df, "t", d, "mssql")
    assert os.path.exists(arts["format_file"])
    stmts = bulk_load_statements("t", d, "mssql")
    assert len(stmts) == 2
    assert all(s.startswith("bcp t in ") for s in stmts)
    assert all(arts["format_file"] in s for s in stmts)
    # -f is mutually exclusive with -c/-t: the format file already
    # carries character mode and terminators
    assert all(" -c" not in s and " -t" not in s for s in stmts)

    write_csv_for_bulk_load(df, d, dialect="oracle")
    arts = write_loader_artifacts(df, "t", d, "oracle")
    assert os.path.exists(arts["control_file"])
    stmts = bulk_load_statements("t", d, "oracle")
    assert len(stmts) == 2
    assert all(s.startswith("sqlldr control=") for s in stmts)
    assert all("direct=true" in s for s in stmts)


# --- microsecond timestamps through the duckdb leg (ADVICE r3) --------------


def test_duckdb_roundtrip_microsecond_timestamps(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "2024-03-01 03:04:05.123456"), (2, "2024-03-01 03:04:05.000001")],
        "id int, ts_s string",
    ).select("id", F.col("ts_s").cast("timestamp").alias("ts"))
    db = str(tmp_path / "us.duckdb")
    bulk_load_duckdb(df, db, "tsus")
    con = duckdb.connect(db)
    got = {r[0]: str(r[1]) for r in con.execute("SELECT id, ts FROM tsus").fetchall()}
    con.close()
    assert got[1] == "2024-03-01 03:04:05.123456"
    assert got[2] == "2024-03-01 03:04:05.000001"


def test_duckdb_roundtrip_keeps_timestamp_types(spark, tmp_path):
    """``timestamp`` comes back as ``timestamp`` (the stored wall clock
    read in the session zone) and ``timestamp_ntz`` stays naive, with
    every microsecond."""
    df = spark.createDataFrame(
        [(1, "2024-03-01 03:04:05.123456"), (2, "1970-01-01 00:00:00.000001"), (3, None)],
        "id int, ts_s string",
    ).select(
        "id",
        F.col("ts_s").cast("timestamp").alias("ts"),
        F.col("ts_s").cast("timestamp_ntz").alias("tn"),
    )
    db = str(tmp_path / "tz.duckdb")
    assert bulk_load_duckdb(df, db, "t") == 3
    back = read_duckdb_table(spark, db, "t", df.schema)
    assert back.schema == df.schema
    assert sorted(back.collect()) == sorted(df.collect())


def test_timestamps_store_the_csv_stage_wall_clock(spark, tmp_path):
    """The Arrow handoff's one added conversion: ``timestamp`` columns
    cross as the session-local wall clock. Under a non-UTC session zone
    both legs must store what the dialect CSV stage plus its ``COPY``
    stored: the same values in DuckDB, the same text in SQLite."""
    import csv
    import sqlite3

    conf = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        df = spark.createDataFrame(
            [(1, "2024-03-10 01:59:59.999999"), (2, "2024-11-03 01:30:00.000001"),
             (3, "1850-06-01 12:00:00.123456"), (4, "0800-02-29 23:59:59.000001"), (5, None)],
            "id int, ts_s string",
        ).select("id", F.col("ts_s").cast("timestamp").alias("ts")).coalesce(1)
        d = str(tmp_path / "csv")
        write_csv_for_bulk_load(df, d, dialect="duckdb")
        ref = duckdb.connect(str(tmp_path / "ref.duckdb"))
        ref.execute(schema_ddl(df, "t", "duckdb"))
        for stmt in bulk_load_statements("t", d, "duckdb"):
            ref.execute(stmt)
        want = sorted(ref.execute("SELECT id, ts FROM t").fetchall())
        ref.close()
        with open(partition_files(d)[0], newline="") as fh:
            want_text = sorted((int(i), ts or None) for i, ts in csv.reader(fh))

        assert bulk_load_duckdb(df, str(tmp_path / "dest.duckdb"), "t") == 5
        assert bulk_load_sqlite(df, str(tmp_path / "dest.sqlite"), "t") == 5
    finally:
        spark.conf.set("spark.sql.session.timeZone", conf)
    con = duckdb.connect(str(tmp_path / "dest.duckdb"), read_only=True)
    try:
        assert sorted(con.execute("SELECT id, ts FROM t").fetchall()) == want
    finally:
        con.close()
    con = sqlite3.connect(str(tmp_path / "dest.sqlite"))
    try:
        assert sorted(con.execute("SELECT id, ts FROM t").fetchall()) == want_text
    finally:
        con.close()
    assert want[0][1].microsecond == 999999 and want_text[0][1] == "2024-03-10 01:59:59.999999"


@pytest.mark.parametrize("leg", ["duckdb", "sqlite"])
def test_roundtrip_timestamps_outside_utc(spark, tmp_path, leg):
    """A ``timestamp`` comes back as the instant it was under a non-UTC
    session zone: the load stores the session wall clock and the
    read-back reads it in the same zone, so 11:04:05.123456 UTC is not
    shifted by America/Los_Angeles' 8 hours. 01:30 PDT on the fall-back
    day, a wall clock the next hour repeats, reads back as the earlier
    instant, which is the one stored here."""
    load, read = {
        "duckdb": (bulk_load_duckdb, read_duckdb_table),
        "sqlite": (bulk_load_sqlite, read_sqlite_table),
    }[leg]
    conf = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        df = spark.createDataFrame(
            [(1, "2024-01-02T11:04:05.123456Z"), (2, "2024-07-01T19:00:00.000001Z"),
             (3, "2024-11-03T08:30:00Z"), (4, None)],
            "id int, ts_s string",
        ).select("id", F.col("ts_s").cast("timestamp").alias("ts"))
        db = str(tmp_path / f"la.{leg}")
        assert load(df, db, "t") == 4
        back = read(spark, db, "t", df.schema)
        assert back.schema == df.schema
        micros = lambda d: sorted(d.select("id", F.unix_micros("ts")).collect())
        assert micros(back) == micros(df)
    finally:
        spark.conf.set("spark.sql.session.timeZone", conf)


def test_read_back_without_a_schema_keeps_naive_timestamps(spark, tmp_path):
    """With no schema (how a migration reads back a table it skipped on
    resume, for the FK check), a DuckDB TIMESTAMP comes back as
    ``timestamp_ntz``: a wall clock in a DST gap of the session zone
    (02:30 on 2024-03-10 in America/Los_Angeles) is read as is instead
    of raising. SQLite's TEXT comes back as text."""
    from datetime import datetime

    df = spark.createDataFrame([(1, "2024-03-10 02:30:00.000001")], "id int, s string").select(
        "id", F.col("s").cast("timestamp_ntz").alias("tn")
    )
    duck, lite = str(tmp_path / "gap.duckdb"), str(tmp_path / "gap.sqlite")
    assert bulk_load_duckdb(df, duck, "t") == 1
    assert bulk_load_sqlite(df, lite, "t") == 1
    conf = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        back = read_duckdb_table(spark, duck, "t")
        assert back.dtypes == [("id", "int"), ("tn", "timestamp_ntz")]
        assert [tuple(r) for r in back.collect()] == [(1, datetime(2024, 3, 10, 2, 30, 0, 1))]
        back = read_sqlite_table(spark, lite, "t")
        assert back.dtypes == [("id", "bigint"), ("tn", "string")]
        assert [tuple(r) for r in back.collect()] == [(1, "2024-03-10 02:30:00.000001")]
    finally:
        spark.conf.set("spark.sql.session.timeZone", conf)


def test_duckdb_append_rejects_schema_drift(spark, tmp_path):
    df = spark.createDataFrame([(1, "a")], "id int, s string")
    db = str(tmp_path / "drift.duckdb")
    bulk_load_duckdb(df, db, "t", mode="overwrite")
    drifted = spark.createDataFrame([(1, "a")], "id int, renamed string")
    with pytest.raises(ValueError, match="names must match as a set"):
        bulk_load_duckdb(drifted, db, "t", mode="append")
    # and the pre-flight ran BEFORE anything was staged for the drifted frame
    assert bulk_load_duckdb(df, db, "t", mode="append") == 2


# --- executed sqlite leg ----------------------------------------------------


def test_sqlite_roundtrip_lossless(spark, tmp_path):
    """Every staged type the sqlite leg reads: integer extremes, float
    and double edge values, boolean NULL, dates, decimals, timestamps
    with and without microseconds, and the NULL / '' / literal '\\N' /
    CR-LF-and-quote strings."""
    from datetime import date
    from decimal import Decimal

    inf = float("inf")
    df = spark.createDataFrame(
        [
            (1, "plain", 1.5, "2024-03-01 03:04:05.123456",
             -128, -32768, -(2**63), 1.1, inf, True, date(1970, 1, 1), Decimal("1234567890.12")),
            (2, "comma, inside", -2.25, "2024-03-01 03:04:05.000001",
             127, 32767, 2**63 - 1, -3.4e38, -inf, False, date(2024, 2, 29), Decimal("-0.01")),
            (3, 'quote " inside', 1e300, None,
             0, 0, 0, None, 1e-300, None, date(9999, 12, 31), None),
            (4, None, None, "2020-01-02 00:00:00.000000",
             None, None, None, 0.0, None, True, None, Decimal("0.10")),
            (5, "", 0.0, "2024-02-29 23:59:59.999999",
             1, 2, 3, 2.5, 1e-300, False, date(2000, 1, 1), Decimal("5.00")),
            (6, "\\N", 42.0, "1970-01-01 00:00:00.000000",
             None, None, None, None, None, None, None, None),
            (7, 'a\r\nb"c', -0.5, None,
             -1, -1, -1, -1.0, -1.0, None, date(1970, 1, 1), Decimal("-9999999999.99")),
        ],
        "id int, s string, v double, ts_s string, ti tinyint, si smallint, bi bigint, "
        "f float, d double, b boolean, dt date, dec decimal(12,2)",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    db = str(tmp_path / "dest.sqlite")
    n = bulk_load_sqlite(df, db, "tricky")
    assert n == 7
    back = read_sqlite_table(spark, db, "tricky", df.schema)
    assert back.schema == df.schema
    src = {tuple(r) for r in df.collect()}
    got = {tuple(r) for r in back.collect()}
    assert got == src


def test_sqlite_refuses_nan_and_keeps_the_old_table(spark, tmp_path):
    """SQLite stores no NaN (it would keep NULL): the load refuses it,
    naming the column, inside the transaction, so an overwrite leaves
    the old table and its rows in place."""
    import sqlite3

    db = str(tmp_path / "nan.sqlite")
    old = spark.createDataFrame([(1, 1.5), (2, None)], "id int, v double")
    assert bulk_load_sqlite(old, db, "t") == 2
    new = spark.createDataFrame([(3, 2.5), (4, float("nan"))], "id int, v double")
    with pytest.raises(ValueError, match="column 'v' holds NaN"):
        bulk_load_sqlite(new, db, "t", mode="overwrite")
    con = sqlite3.connect(db)
    try:
        assert sorted(con.execute("SELECT id, v FROM t").fetchall()) == [(1, 1.5), (2, None)]
    finally:
        con.close()


def test_sqlite_mode_semantics(spark, tmp_path):
    df = spark.createDataFrame([(1,)], "id int")
    db = str(tmp_path / "m.sqlite")
    assert bulk_load_sqlite(df, db, "t", mode="overwrite") == 1
    assert bulk_load_sqlite(df, db, "t", mode="append") == 2
    assert bulk_load_sqlite(df, db, "t", mode="overwrite") == 1
    with pytest.raises(ValueError, match="mode=error"):
        bulk_load_sqlite(df, db, "t", mode="error")
    drifted = spark.createDataFrame([(1,)], "other int")
    with pytest.raises(ValueError, match="names must match as a set"):
        bulk_load_sqlite(drifted, db, "t", mode="append")


# --- loader-side content parity for the mssql/oracle artifacts (ADVICE r4) ---
#
# No SQL Server / Oracle engine exists in this sandbox, so the next-best
# proof is content-level: parse the staged CSV exactly the way each
# loader's declared conventions would, and require the source values
# back.


def _tricky_df(spark):
    return spark.createDataFrame(
        [
            (1, "plain"),
            (2, 'has"quote'),
            (3, "has,comma"),
            (4, None),
            (5, ""),
            (6, ' padded "x" '),
        ],
        "id int, v string",
    ).coalesce(1)


def test_oracle_csv_parses_as_sqlldr_would(spark, tmp_path):
    """sqlldr OPTIONALLY ENCLOSED BY '"' semantics == RFC-4180: quote
    doubling inside enclosed fields, no backslash escapes. Python's csv
    module implements exactly those rules (doublequote=True, no
    escapechar) — parse every staged field with it and require the
    source values back. NULL and '' both land as empty post-parse
    (Oracle collapses '' to NULL server-side; single-marker parity)."""
    import csv

    d = str(tmp_path / "ora_csv")
    df = _tricky_df(spark)
    write_csv_for_bulk_load(df, d, dialect="oracle")
    rows = []
    for p in sorted(partition_files(d)):
        with open(p, newline="") as fh:
            rows += [tuple(r) for r in csv.reader(fh, doublequote=True)]
    expect = {
        ("1", "plain"),
        ("2", 'has"quote'),
        ("3", "has,comma"),
        ("4", ""),
        ("5", ""),
        ("6", ' padded "x" '),
    }
    assert set(rows) == expect
    # and the raw file truly uses doubling, not backslash escapes
    raw = "".join(open(p).read() for p in partition_files(d))
    assert '"has""quote"' in raw
    assert "\\" not in raw


def test_mssql_csv_parses_as_bcp_would(spark, tmp_path):
    """bcp character mode does NO quote processing: fields are raw
    terminator-bounded bytes. Parse by splitting records on the
    declared terminators (exactly what the generated format file makes
    bcp do) and require the source values back — embedded quotes ride
    raw, nothing is ever wrapped in quote pairs."""
    d = str(tmp_path / "ms_csv")
    df = _tricky_df(spark)
    write_csv_for_bulk_load(df, d, dialect="mssql")
    rows = []
    for p in sorted(partition_files(d)):
        with open(p, newline="") as fh:
            for line in fh.read().split("\n"):
                if line:
                    rows.append(tuple(line.split("\t")))
    expect = {
        ("1", "plain"),
        ("2", 'has"quote'),
        ("3", "has,comma"),
        ("4", ""),
        ("5", ""),
        ("6", ' padded "x" '),
    }
    assert set(rows) == expect


def test_unrepresentable_values_rejected_up_front(spark, tmp_path):
    from etlalchemy_spark.sources.files import assert_loader_representable

    tabbed = spark.createDataFrame([(1, "a\tb")], "id int, v string")
    with pytest.raises(ValueError, match="mssql native loader"):
        write_csv_for_bulk_load(tabbed, str(tmp_path / "x1"), dialect="mssql")
    multiline = spark.createDataFrame([(1, "a\nb")], "id int, v string")
    with pytest.raises(ValueError, match="oracle native loader"):
        write_csv_for_bulk_load(multiline, str(tmp_path / "x2"), dialect="oracle")
    with pytest.raises(ValueError, match="mssql"):
        assert_loader_representable(multiline, "mssql")
    # opt-out is explicit, and clean data passes untouched
    write_csv_for_bulk_load(tabbed, str(tmp_path / "x3"), dialect="mssql", validate=False)
    assert_loader_representable(_tricky_df(spark), "oracle")
    # loaders with real quoting (mysql/pg/duckdb) accept anything
    assert_loader_representable(multiline, "duckdb")


def test_statement_columns_rejected_where_not_expressible():
    """Loader command lines that cannot carry a column list must refuse
    one rather than silently load positionally."""
    for dialect in ("mssql", "oracle", "sqlite"):
        with pytest.raises(ValueError, match="column list"):
            bulk_load_statements("t", "/nonexistent", dialect, columns=["b", "a"])


def test_single_column_nulls_refused_not_lost(spark, tmp_path):
    """Spark's CSV writer silently drops a row that renders as a fully
    empty line — a single-column NULL row under the empty NULL marker —
    so the CSV stage refuses rather than lose rows silently. The
    executed legs hand the rows over as Arrow, which keeps NULL and ''
    apart: both load every row."""
    import sqlite3

    df = spark.createDataFrame([("x",), (None,), ("",), (None,)], "v string").coalesce(1)
    with pytest.raises(ValueError, match="single-column"):
        write_csv_for_bulk_load(df, str(tmp_path / "csv"), dialect="duckdb")

    want = sorted([("x",), (None,), ("",), (None,)], key=repr)
    for load, connect in ((bulk_load_duckdb, duckdb.connect), (bulk_load_sqlite, sqlite3.connect)):
        db = str(tmp_path / f"one.{load.__name__}")
        assert load(df, db, "t") == 4
        con = connect(db)
        try:
            assert sorted(con.execute("SELECT v FROM t").fetchall(), key=repr) == want
        finally:
            con.close()


def test_sqlite_multi_column_all_null_rows_survive(spark, tmp_path):
    """Multi-column all-NULL rows render as bare delimiters (not empty
    lines) — they must round-trip as NULLs through the loader."""
    df = spark.createDataFrame(
        [("a", "b"), (None, None), (None, "c")], "x string, y string"
    ).coalesce(1)
    db = str(tmp_path / "two.sqlite")
    assert bulk_load_sqlite(df, db, "t2") == 3
    import sqlite3

    con = sqlite3.connect(db)
    rows = sorted(
        (r[0] or "<N>", r[1] or "<N>") for r in con.execute("SELECT x, y FROM t2")
    )
    con.close()
    assert rows == [("<N>", "<N>"), ("<N>", "c"), ("a", "b")]


def test_single_column_guard_is_dialect_aware(spark, tmp_path):
    """Only dialects whose conventions render the value as a fully
    empty line lose the row: \\N dialects stage single-column NULLs
    fine; mssql additionally loses empty STRINGS (emptyValue='')."""
    nulls = spark.createDataFrame([("x",), (None,)], "v string").coalesce(1)
    empties = spark.createDataFrame([("x",), ("",)], "v string").coalesce(1)
    # postgresql renders NULL as the non-empty line '\N' — loadable
    d = str(tmp_path / "pg")
    write_csv_for_bulk_load(nulls, d, dialect="postgresql")
    raw = "".join(open(p).read() for p in partition_files(d))
    assert "\\N\n" in raw
    # sqlite/duckdb/oracle: NULL renders empty -> refused; '' renders
    # quoted -> fine
    with pytest.raises(ValueError, match="single-column"):
        write_csv_for_bulk_load(nulls, str(tmp_path / "sq"), dialect="sqlite")
    write_csv_for_bulk_load(empties, str(tmp_path / "sq2"), dialect="sqlite")
    # mssql: BOTH NULL and '' render as empty lines -> both refused
    with pytest.raises(ValueError, match="single-column"):
        write_csv_for_bulk_load(nulls, str(tmp_path / "ms"), dialect="mssql")
    with pytest.raises(ValueError, match="single-column"):
        write_csv_for_bulk_load(empties, str(tmp_path / "ms2"), dialect="mssql")


# --- r11: statement-level goldens + parse-as-loader-would for pg/mysql ---------------


def test_pg_mysql_statement_goldens(spark, tmp_path):
    """The exact COPY / LOAD DATA statement text, pinned (VERDICT r10
    ask 9: pg/mysql were generator-tested only). A silent template
    drift (quote style, escape declaration, null marker) would load
    garbage on a real server; the golden makes it a test failure."""
    df = spark.range(5).selectExpr("id", "CAST(id AS STRING) AS s").coalesce(1)
    d = str(tmp_path / "csv")
    write_csv_for_bulk_load(df, d, dialect="postgresql")
    [f] = partition_files(d)
    [pg] = bulk_load_statements("tgt", d, "postgresql")
    assert pg == (
        f"COPY \"tgt\" FROM '{f}' WITH "
        "(FORMAT csv, HEADER false, DELIMITER ',', "
        "QUOTE '\"', ESCAPE '\\', NULL '\\N')"
    )
    [my] = bulk_load_statements("tgt", d, "mysql")
    assert my == (
        f"LOAD DATA LOCAL INFILE '{f}' INTO TABLE `tgt` "
        "FIELDS TERMINATED BY ',' OPTIONALLY ENCLOSED BY '\"' "
        "ESCAPED BY '\\\\'"
    )
    [pgc] = bulk_load_statements("tgt", d, "postgresql", columns=["id", "s"])
    assert pgc.startswith('COPY "tgt" ("id", "s") FROM ')


def _pg_copy_csv_parse(text: str, delim=",", quote='"', esc="\\", nullstr=r"\N"):
    """Reference reader implementing postgres CopyReadAttributesCSV
    semantics (public source): quoting optional; INSIDE quotes the
    ESCAPE char escapes only QUOTE or ESCAPE (before anything else it
    stays literal); outside quotes no escape processing at all; the
    NULL marker matches UNQUOTED field text only."""
    rows, field, row = [], [], []
    buf, quoted, in_q, i, n = [], False, False, 0, len(text)

    def end_field():
        nonlocal buf, quoted
        s = "".join(buf)
        row.append(None if (not quoted and s == nullstr) else s)
        buf, quoted = [], False

    while i < n:
        c = text[i]
        if in_q:
            if c == esc and i + 1 < n and text[i + 1] in (quote, esc):
                buf.append(text[i + 1])
                i += 2
                continue
            if c == quote:
                in_q = False
            else:
                buf.append(c)
            i += 1
        else:
            if c == quote and not buf:
                in_q, quoted = True, True
            elif c == delim:
                end_field()
            elif c == "\n":
                end_field()
                rows.append(row[:])
                row.clear()
            else:
                buf.append(c)
            i += 1
    if buf or row or quoted:
        end_field()
        rows.append(row[:])
    return rows


_MYSQL_ESC = {"0": "\0", "b": "\b", "n": "\n", "r": "\r", "t": "\t", "Z": "\x1a"}


def _mysql_load_data_parse(text: str, delim=",", quote='"', esc="\\"):
    """Reference reader for LOAD DATA ... OPTIONALLY ENCLOSED BY '"'
    ESCAPED BY '\\' (public docs): escape sequences apply inside AND
    outside enclosures (\\0 \\b \\n \\r \\t \\Z map to controls, \\N
    alone unenclosed is NULL, \\x -> x otherwise); LINES TERMINATED BY
    '\\n' applies outside enclosures only."""
    rows, row = [], []
    buf, enclosed, in_q, was_null, i, n = [], False, False, False, 0, len(text)

    def end_field():
        nonlocal buf, enclosed
        s = "".join(buf)
        row.append(None if (not enclosed and s == "\0NULL\0") else s)
        buf, enclosed = [], False

    while i < n:
        c = text[i]
        if c == esc and i + 1 < n:
            nxt = text[i + 1]
            if nxt == "N" and not in_q:
                buf.append("\0NULL\0")  # sentinel; must be the whole field
            else:
                buf.append(_MYSQL_ESC.get(nxt, nxt))
            i += 2
            continue
        if in_q:
            if c == quote:
                in_q = False
            else:
                buf.append(c)
            i += 1
        else:
            if c == quote and not buf:
                in_q, enclosed = True, True
            elif c == delim:
                end_field()
            elif c == "\n":
                end_field()
                rows.append(row[:])
                row.clear()
            else:
                buf.append(c)
            i += 1
    if buf or row:
        end_field()
        rows.append(row[:])
    return rows


def _staged_text(d):
    return "".join(open(f, "r", newline="") .read() for f in partition_files(d))


def test_pg_csv_parses_as_copy_would(spark, tmp_path):
    """Staged pg CSV read back through the reference COPY reader must
    reproduce the DataFrame exactly — quotes, commas, embedded
    newlines, backslashes inside quoted fields, padded whitespace,
    NULL vs empty string."""
    rows = [
        (1, "plain"), (2, "comma, inside"), (3, 'quote " inside'),
        (4, "multi\nline"), (5, None), (6, ""), (7, "  pad  "),
        (8, 'mix "q" and \\ back'),
    ]
    df = spark.createDataFrame(rows, "id int, s string").coalesce(1)
    d = str(tmp_path / "pg")
    write_csv_for_bulk_load(df.orderBy("id"), d, dialect="postgresql")
    parsed = _pg_copy_csv_parse(_staged_text(d))
    assert [(int(r[0]), r[1]) for r in parsed] == rows


def test_mysql_csv_parses_as_load_data_would(spark, tmp_path):
    rows = [
        (1, "plain"), (2, "comma, inside"), (3, 'quote " inside'),
        (4, "multi\nline"), (5, None), (6, ""), (7, "  pad  "),
        (8, 'mix "q" and \\ back'),
    ]
    df = spark.createDataFrame(rows, "id int, s string").coalesce(1)
    d = str(tmp_path / "my")
    write_csv_for_bulk_load(df.orderBy("id"), d, dialect="mysql")
    parsed = _mysql_load_data_parse(_staged_text(d))
    assert [(int(r[0]), r[1]) for r in parsed] == rows


def test_pg_mysql_hazardous_values_rejected_up_front(spark, tmp_path):
    """r11: the parse-as-loader-would tests surfaced two SILENT
    corruption channels, now refused loudly: a pg value exactly equal
    to the '\\N' NULL marker (stages unquoted, loads as NULL), and a
    mysql backslash in a field the writer leaves unquoted (LOAD
    DATA's escape processing applies outside enclosures — '\\b' would
    load as backspace, '\\N' as NULL)."""
    pg_bad = spark.createDataFrame([(1, r"\N")], "id int, s string")
    with pytest.raises(ValueError, match="NULL marker"):
        write_csv_for_bulk_load(pg_bad, str(tmp_path / "a"), dialect="postgresql")
    my_bad = spark.createDataFrame([(1, "back\\slash")], "id int, s string")
    with pytest.raises(ValueError, match="backslash"):
        write_csv_for_bulk_load(my_bad, str(tmp_path / "b"), dialect="mysql")
    # the same backslash IS representable when quoting triggers: the
    # writer doubles it inside the enclosure
    ok = spark.createDataFrame([(1, "back\\slash, quoted")], "id int, s string")
    write_csv_for_bulk_load(ok.coalesce(1), str(tmp_path / "c"), dialect="mysql")
    parsed = _mysql_load_data_parse(_staged_text(str(tmp_path / "c")))
    assert parsed[0][1] == "back\\slash, quoted"
    # and validate=False remains the documented escape hatch
    write_csv_for_bulk_load(pg_bad, str(tmp_path / "d"), dialect="postgresql",
                            validate=False)
