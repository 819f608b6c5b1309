"""The fused bulk-load path: on DuckDB and SQLite targets the
standardizer's stats run in the destination over the staged rows (one
Spark pass per table, the Arrow handoff) and the loader applies the
decisions there.

The property checks it against the two-pass path it replaces —
``standardize()`` followed by the per-file ``COPY`` statements (DuckDB)
or a plain load of the standardized frame (SQLite) — on decisions,
destination columns and types, and content. The example tests pin the
single source read, rows-loaded accounting and atomic overwrite."""

import sqlite3

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etlalchemy_spark.migrate import FileSource, Migration, Target
from etlalchemy_spark.operators import standardize as std
from etlalchemy_spark.operators.rules import SchemaRules
from etlalchemy_spark.sources import bulkload
from etlalchemy_spark.sources.bulkload import (
    bulk_load_duckdb,
    bulk_load_sqlite,
    bulk_load_statements,
    schema_ddl,
)
from etlalchemy_spark.sources.files import write_csv_for_bulk_load

from conftest import SF_DIR

_SUFFIX = "_ign"
# `tag` reaches the loader as `tag_ign` (renamed by rule), so the
# suffix drop happens there; `raw_ign` is dropped by the rules already
_RULES = dict(
    column_csv="Table Name, Column Name, New Column Name\nt, tag, tag_ign\n",
    ignored_col_suffixes=[_SUFFIX],
)
_SCHEMA = "id int, n long, small long, flag long, empty long, s string, tag string, raw_ign string"

_EDGES = [-(2**31) - 1, -(2**31), -(2**15), -129, -128, -1, 0, 1, 127, 128, 2**15 - 1, 2**15, 2**31 - 1, 2**31]
_ints = st.one_of(st.sampled_from(_EDGES), st.integers(-(2**62), 2**62), st.none())
_small = st.one_of(st.integers(-300, 300), st.none())
_flags = st.sampled_from([0, 1, None])
_texts = st.one_of(st.none(), st.text(alphabet=list('ab ,"\n\'\\'), max_size=8))
_rows = st.lists(st.tuples(_ints, _small, _flags, _texts, _texts), min_size=0, max_size=12)


def _duck_table(db):
    con = duckdb.connect(db, read_only=True)
    try:
        cols = [(r[0], r[1]) for r in con.execute("DESCRIBE t").fetchall()]
        return cols, sorted(con.execute("SELECT * FROM t").fetchall(), key=repr)
    finally:
        con.close()


def _sqlite_table(db):
    con = sqlite3.connect(db)
    try:
        cols = [(r[1], r[2]) for r in con.execute("PRAGMA table_info(t)")]
        return cols, sorted(con.execute("SELECT * FROM t").fetchall(), key=repr)
    finally:
        con.close()


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_rows)
def test_fused_load_matches_standardize_then_load(spark, tmp_path_factory, rows):
    tmp = tmp_path_factory.mktemp("fused")
    data = [(i, n, sm, f, None, s, t, "x") for i, (n, sm, f, s, t) in enumerate(rows)]
    spark.createDataFrame(data, _SCHEMA).write.parquet(str(tmp / "src" / "t.parquet"))
    rules = SchemaRules.from_csv(**_RULES)

    # the two-pass reference: stats job, then stage + load
    src = rules.transform("t", spark.read.parquet(str(tmp / "src" / "t.parquet")))
    std_df, want_decisions = std.standardize(src, [_SUFFIX])
    write_csv_for_bulk_load(std_df, str(tmp / "ref_csv"), dialect="duckdb")
    con = duckdb.connect(str(tmp / "ref.duckdb"))
    con.execute(schema_ddl(std_df, "t", "duckdb"))
    for stmt in bulk_load_statements("t", str(tmp / "ref_csv"), "duckdb"):
        con.execute(stmt)
    con.close()
    bulk_load_sqlite(std_df, str(tmp / "ref.sqlite"), "t")

    for fmt, read_back in (("duckdb", _duck_table), ("sqlite", _sqlite_table)):
        db = str(tmp / f"dest.{fmt}")
        reports, _ = Migration(
            FileSource(str(tmp / "src")), Target(db, fmt=fmt), rules=rules
        ).run(spark)
        assert reports[0].decisions == want_decisions, fmt
        assert reports[0].n_rows == len(rows)
        assert read_back(db) == read_back(str(tmp / f"ref.{fmt}")), fmt


def test_duckdb_migration_reads_the_source_once(spark, tmp_path, monkeypatch):
    """No separate stats pass: once the source table is open, the only
    Spark job is the stage collect."""
    import etlalchemy_spark.migrate as migmod

    def no_stats_pass(df):
        raise AssertionError("standardize.observe ran a separate stats job")

    monkeypatch.setattr(std, "observe", no_stats_pass)
    sc = spark.sparkContext
    group = "fused-stage-one-pass"
    real_read = migmod.read_file

    def read_then_tag(*args, **kwargs):
        df = real_read(*args, **kwargs)  # schema resolution is not a data read
        sc.setJobGroup(group, "jobs after the source table is opened")
        return df

    monkeypatch.setattr(migmod, "read_file", read_then_tag)
    try:
        reports, _ = Migration(
            FileSource(SF_DIR, included_tables=["nation"]),
            Target(str(tmp_path / "one.duckdb"), fmt="duckdb"),
        ).run(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert reports[0].n_rows == 25
    # the decisions still narrowed the keys (0..24 -> TINYINT)
    assert {d.name: d.target_type for d in reports[0].decisions}["n_nationkey"] == "tinyint"


@pytest.mark.parametrize("fmt", ["duckdb", "sqlite", "parquet", "jdbc"])
def test_append_reports_rows_loaded_by_this_run(spark, tmp_path, fmt):
    db = {
        "parquet": str(tmp_path / "app"),
        "jdbc": f"jdbc:derby:memory:{tmp_path.name};create=true",
    }.get(fmt, str(tmp_path / f"app.{fmt}"))
    mk = lambda: Migration(
        FileSource(SF_DIR, included_tables=["region"]),
        Target(db, fmt=fmt, mode="append", manifest_path=str(tmp_path / "manifest.json")),
    )
    reports = mk().run(spark)[0] + mk().run(spark)[0]
    assert [r.n_rows for r in reports] == [5, 5]
    assert mk()._load_manifest()["region"]["rows"] == 5
    if fmt == "parquet":
        assert spark.read.parquet(f"{db}/region.parquet").count() == 10
        return
    if fmt == "jdbc":
        assert spark.read.format("jdbc").option("url", db).option("dbtable", "region").load().count() == 10
        return
    con = duckdb.connect(db) if fmt == "duckdb" else sqlite3.connect(db)
    assert con.execute("SELECT COUNT(*) FROM region").fetchall()[0][0] == 10
    con.close()


def _rows_of_t(load, db):
    con = duckdb.connect(db, read_only=True) if load is bulk_load_duckdb else sqlite3.connect(db)
    try:
        return sorted(con.execute("SELECT id, s FROM t").fetchall())
    finally:
        con.close()


@pytest.mark.parametrize("load", [bulk_load_duckdb, bulk_load_sqlite], ids=["duckdb", "sqlite"])
def test_failed_overwrite_keeps_the_old_table(spark, tmp_path, monkeypatch, load):
    """DROP, CREATE and INSERT are one transaction: an INSERT that fails
    after the DROP leaves the old table and its rows in place."""
    db = str(tmp_path / "atomic.db")
    old = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    assert load(old, db, "t") == 2

    built = []
    real_insert = bulkload._insert

    def failing_insert(table, *a):
        built.append(real_insert(table, *a))  # called after the DROP and CREATE ran
        return f'INSERT INTO "{table}" ("id") SELECT no_such_column'

    monkeypatch.setattr(bulkload, "_insert", failing_insert)
    new = spark.createDataFrame([(3, "c"), (4, "d")], "id long, s string")
    with pytest.raises(Exception, match="no_such_column"):
        load(new, db, "t", mode="overwrite")
    assert len(built) == 1
    assert _rows_of_t(load, db) == [(1, "a"), (2, "b")]


@pytest.mark.parametrize("load", [bulk_load_duckdb, bulk_load_sqlite], ids=["duckdb", "sqlite"])
def test_failed_handoff_keeps_the_old_table(spark, tmp_path, monkeypatch, load):
    """A stage collect that raises fails the overwrite before the
    destination is touched: the old table and its rows stay."""
    db = str(tmp_path / "handoff.db")
    old = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    assert load(old, db, "t") == 2

    def broken_handoff(self):
        raise RuntimeError("injected handoff failure")

    monkeypatch.setattr(type(old), "toArrow", broken_handoff)
    new = spark.createDataFrame([(3, "c"), (4, "d")], "id long, s string")
    with pytest.raises(RuntimeError, match="injected handoff failure"):
        load(new, db, "t", mode="overwrite")
    assert _rows_of_t(load, db) == [(1, "a"), (2, "b")]


@pytest.mark.parametrize("fmt", ["duckdb", "sqlite"])
def test_bulk_migration_attaches_no_observation(spark, tmp_path, monkeypatch, fmt):
    """The stats run in the destination: nothing on the bulk path
    observes a Spark frame."""
    from pyspark.sql import DataFrame

    def no_observe(self, *a, **kw):
        raise AssertionError("DataFrame.observe on the bulk path")

    monkeypatch.setattr(DataFrame, "observe", no_observe)
    reports, _ = Migration(
        FileSource(SF_DIR, included_tables=["nation"]),
        Target(str(tmp_path / f"obs.{fmt}"), fmt=fmt),
    ).run(spark)
    assert reports[0].n_rows == 25
    assert {d.name: d.target_type for d in reports[0].decisions}["n_nationkey"] == "tinyint"


@pytest.mark.parametrize("load", [bulk_load_duckdb, bulk_load_sqlite], ids=["duckdb", "sqlite"])
def test_destination_stats_decide_like_standardize(spark, tmp_path, load):
    """Stats computed in the destination give standardize()'s decisions:
    lengths count code points (not bytes, UTF-16 units or graphemes),
    all-NULL columns drop and 0/1 columns become boolean."""
    combining = "e\u0301" * 3 + "x"  # 7 code points, 4 graphemes, 10 bytes
    emoji = "\U0001F600" * 5  # 5 code points, 10 UTF-16 units, 20 bytes
    df = spark.createDataFrame(
        [(1, combining, emoji, None, None, 0), (2, "ab", None, None, None, 1), (3, None, "\u00e9", None, None, None)],
        "id long, s1 string, s2 string, empty long, empty_s string, flag long",
    )
    report = bulkload.LoadReport()
    load(df, str(tmp_path / "dest.db"), "t", standardize_types=True, report=report)
    _, want = std.standardize(df)
    assert report.decisions == want
    by_name = {d.name: d for d in report.decisions}
    assert (by_name["s1"].varchar_n, by_name["s2"].varchar_n) == (8, 8)
    assert by_name["empty"].action == by_name["empty_s"].action == "drop_empty"
    assert (by_name["flag"].action, by_name["flag"].target_type) == ("cast", "boolean")
    assert report.rows == 3
    assert report.loaded.columns == ["id", "s1", "s2", "flag"]


# --- what each mode reads before the stage collect ---------------------------


def _no_catalog(monkeypatch):
    def refuse(con, table):
        raise AssertionError("an overwrite read the destination catalog")

    monkeypatch.setattr(bulkload, "_duckdb_columns", refuse)
    monkeypatch.setattr(bulkload, "_sqlite_columns", refuse)


@pytest.mark.parametrize("load", [bulk_load_duckdb, bulk_load_sqlite], ids=["duckdb", "sqlite"])
def test_overwrite_reads_no_catalog(spark, tmp_path, monkeypatch, load):
    """An overwrite's transaction drops and creates the table itself, so
    it reads no columns first, and still replaces the old rows."""
    db = str(tmp_path / "over.db")
    old = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    assert load(old, db, "t") == 2
    _no_catalog(monkeypatch)
    new = spark.createDataFrame([(3, "c")], "id long, s string")
    assert load(new, db, "t", mode="overwrite") == 1
    assert _rows_of_t(load, db) == [(3, "c")]


@pytest.mark.parametrize("load", [bulk_load_duckdb, bulk_load_sqlite], ids=["duckdb", "sqlite"])
def test_doomed_loads_fail_before_the_collect(spark, tmp_path, monkeypatch, load):
    """``error`` into an existing table and ``append`` with column drift
    are refused by the pre-flight read, before the Spark job; an unknown
    mode is refused before anything is read."""
    db = str(tmp_path / "doomed.db")
    old = spark.createDataFrame([(1, "a")], "id long, s string")
    assert load(old, db, "t") == 1

    def no_collect(self):
        raise RuntimeError("the stage collect ran")

    monkeypatch.setattr(type(old), "toArrow", no_collect)
    with pytest.raises(ValueError, match="mode=error"):
        load(old, db, "t", mode="error")
    drifted = spark.createDataFrame([(1, "a")], "id long, renamed string")
    with pytest.raises(ValueError, match="names must match as a set"):
        load(drifted, db, "t", mode="append")
    _no_catalog(monkeypatch)
    with pytest.raises(ValueError, match="unknown mode"):
        load(old, db, "t", mode="upsert")
    monkeypatch.undo()
    assert _rows_of_t(load, db) == [(1, "a")]


@pytest.mark.parametrize("mode, reads", [("overwrite", 0), ("append", 3)])
def test_duckdb_migration_catalog_reads(spark, tmp_path, monkeypatch, mode, reads):
    """A whole-database overwrite reads the destination catalog 0 times;
    an append reads it once per table, for its pre-flight."""
    calls = []
    real = bulkload._duckdb_columns

    def counted(con, table):
        calls.append(table)
        return real(con, table)

    monkeypatch.setattr(bulkload, "_duckdb_columns", counted)
    reports, _ = Migration(
        FileSource(SF_DIR, included_tables=["nation", "region", "supplier"]),
        Target(str(tmp_path / "cat.duckdb"), fmt="duckdb", mode=mode),
    ).run(spark)
    assert sorted(r.table for r in reports) == ["nation", "region", "supplier"]
    assert len(calls) == reads


def test_duckdb_catalog_is_the_current_schema(spark, tmp_path):
    """A table of the same name in another schema is not the load's
    table: ``error`` loads into ``main`` and ``exists`` says no, so a
    resume would not skip it."""
    from etlalchemy_spark.migrate import _DuckDBSink

    db = str(tmp_path / "schemas.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE SCHEMA other")
    con.execute("CREATE TABLE other.t (x INTEGER)")
    con.close()
    sink = _DuckDBSink(Target(db, fmt="duckdb"), True, None)
    assert not sink.exists(spark, "t")
    df = spark.createDataFrame([(1, "a")], "id long, s string")
    assert bulk_load_duckdb(df, db, "t", mode="error") == 1
    assert sink.exists(spark, "t")
    assert _rows_of_t(bulk_load_duckdb, db) == [(1, "a")]
