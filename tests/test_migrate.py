"""End-to-end migration tests (O1/O2 + sources)."""

import os
import tempfile

import pytest

from etlalchemy_spark.migrate import FileSource, Migration, Target, print_timings
from etlalchemy_spark.operators.ddl import FKSpec, IndexSpec
from etlalchemy_spark.operators.rules import SchemaRules
from etlalchemy_spark.sources.files import read_file
from etlalchemy_spark.sources.jdbc import column_types_ddl, dialect_of
from etlalchemy_spark.sources.reflection import information_schema_query, reflect_dir

from conftest import SF_DIR


def test_migrate_parquet_to_parquet(spark, tmp_path):
    mig = Migration(
        source=FileSource(SF_DIR, included_tables=["nation", "region"]),
        target=Target(str(tmp_path)),
    )
    reports, ddl = mig.run(spark)
    assert {r.table for r in reports} == {"nation", "region"}
    nation = read_file(spark, str(tmp_path / "nation.parquet"))
    assert nation.count() == 25
    # standardizer narrowed the int32 keys (values 0..24 → tinyint)
    assert dict(nation.dtypes)["n_nationkey"] == "tinyint"
    assert "nation" in print_timings(reports)


def test_migrate_with_rules_and_ddl(spark, tmp_path):
    rules = SchemaRules.from_csv(
        table_csv="Table Name, New Table Name, Delete\nregion, zones,\nnation, , true\n",
    )
    mig = Migration(
        source=FileSource(SF_DIR, included_tables=["nation", "region"]),
        target=Target(str(tmp_path)),
        rules=rules,
        indexes=[IndexSpec("zones", ["r_regionkey"])],
        fks=[FKSpec("zones", ["r_regionkey"], "zones", ["r_regionkey"])],
        validate_fks=True,
    )
    reports, ddl = mig.run(spark)
    # nation deleted by rule; region renamed
    assert [r.dest_table for r in reports] == ["zones"]
    assert os.path.exists(tmp_path / "zones.parquet")
    assert any("CREATE INDEX" in s for s in ddl)
    assert any("FOREIGN KEY" in s for s in ddl)


def test_migrate_to_csv(spark, tmp_path):
    mig = Migration(
        source=FileSource(SF_DIR, included_tables=["region"]),
        target=Target(str(tmp_path), fmt="csv"),
        standardize_types=False,
    )
    reports, _ = mig.run(spark)
    assert reports[0].n_rows == 5
    back = read_file(spark, str(tmp_path / "region.csv"), fmt="csv")
    assert back.count() == 5


def test_reflect_include_exclude(spark):
    infos = reflect_dir(spark, SF_DIR, excluded_tables=["lineitem", "orders"], with_schema=False)
    names = [i.name for i in infos]
    assert "lineitem" not in names and "customer" in names
    only = reflect_dir(spark, SF_DIR, included_tables=["part"])
    assert [i.name for i in only] == ["part"]
    assert only[0].schema is not None  # footer-read schema


def test_jdbc_helpers():
    assert dialect_of("jdbc:postgresql://h/db") == "postgresql"
    assert column_types_ddl({"b": 8, "a": 4}) == "a VARCHAR(4), b VARCHAR(8)"
    q = information_schema_query(schema="public")
    assert "information_schema.tables" in q and "table_schema = 'public'" in q


def test_migrate_duckdb_bulk_target(spark, tmp_path):
    import duckdb

    db = str(tmp_path / "dest.duckdb")
    mig = Migration(
        source=FileSource(SF_DIR, included_tables=["nation", "region"]),
        target=Target(db, fmt="duckdb", mode="error", drop_destination=True),
    )
    reports, _ = mig.run(spark)
    assert {r.dest_table: r.n_rows for r in reports} == {"nation": 25, "region": 5}
    con = duckdb.connect(db)
    assert con.execute("SELECT COUNT(*) FROM nation").fetchall()[0][0] == 25
    # standardizer decisions survive into the loaded schema via the
    # narrowed DataFrame types (0..24 keys → TINYINT)
    types = {r[1]: r[2] for r in con.execute("PRAGMA table_info('nation')").fetchall()}
    assert types["n_nationkey"] == "TINYINT"
    con.close()
    # mode=error now refuses (tables exist, destination not dropped)
    mig2 = Migration(
        source=FileSource(SF_DIR, included_tables=["nation"]),
        target=Target(db, fmt="duckdb", mode="error"),
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="mode=error"):
        mig2.run(spark)
    # drop_destination resets the whole database file
    mig3 = Migration(
        source=FileSource(SF_DIR, included_tables=["nation"]),
        target=Target(db, fmt="duckdb", mode="error", drop_destination=True),
    )
    reports3, _ = mig3.run(spark)
    assert [r.n_rows for r in reports3] == [25]
    con = duckdb.connect(db)
    assert [r[0] for r in con.execute("SHOW TABLES").fetchall()] == ["nation"]
    con.close()


def test_migrate_file_target_modes(spark, tmp_path):
    src = FileSource(SF_DIR, included_tables=["region"])
    tgt = str(tmp_path / "out")
    Migration(source=src, target=Target(tgt, mode="overwrite")).run(spark)
    # error mode refuses to clobber existing table files
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    with _pytest.raises(Exception):
        Migration(source=src, target=Target(tgt, mode="error")).run(spark)
    # drop_destination removes the directory first, so error mode passes
    reports, _ = Migration(
        source=src, target=Target(tgt, mode="error", drop_destination=True)
    ).run(spark)
    assert reports[0].n_rows == 5


def test_reflection_query_executes_on_live_information_schema(tmp_path):
    # No JDBC driver jars ship in this sandbox, so the S1 JDBC probe
    # can't ride spark.read.jdbc here — but the generated SQL itself
    # runs verbatim against a live information_schema (DuckDB speaks
    # the standard), proving the reflection string is not dead code.
    import duckdb

    con = duckdb.connect(str(tmp_path / "cat.duckdb"))
    con.execute("CREATE TABLE t1 (a INTEGER)")
    con.execute("CREATE TABLE t2 (b VARCHAR)")
    con.execute("CREATE VIEW v1 AS SELECT * FROM t1")
    sub = information_schema_query()
    # strip the JDBC dbtable wrapper "( ... ) t" -> plain SELECT
    inner = sub.strip()
    assert inner.startswith("(") and inner.endswith(") t")
    got = sorted(r[0] for r in con.execute(inner[1:-3]).fetchall())
    # names come back schema-qualified; BASE TABLE filter excludes the view
    assert got == ["main.t1", "main.t2"]
    schema_q = information_schema_query(schema="main")
    got2 = sorted(r[0] for r in con.execute(schema_q.strip()[1:-3]).fetchall())
    assert got2 == ["main.t1", "main.t2"]
    # literal escaping: a quote in the schema filter must not break the
    # probe (or inject through it)
    evil = information_schema_query(schema="o'brien")
    assert "'o''brien'" in evil
    assert con.execute(evil.strip()[1:-3]).fetchall() == []
    con.close()


def test_migrate_duckdb_append_double_load_audit(spark, tmp_path):
    import duckdb

    db = str(tmp_path / "app.duckdb")
    mk = lambda: Migration(
        source=FileSource(SF_DIR, included_tables=["nation"]),
        target=Target(db, fmt="duckdb", mode="append"),
    )
    reports1, _ = mk().run(spark)
    assert [r.n_rows for r in reports1] == [25]  # create-if-absent leg
    reports2, _ = mk().run(spark)
    # "rows" is the rows this run loaded; the table holds both loads
    assert [r.n_rows for r in reports2] == [25]
    con = duckdb.connect(db)
    assert con.execute("SELECT COUNT(*) FROM nation").fetchall()[0][0] == 50
    assert (
        con.execute("SELECT COUNT(DISTINCT n_nationkey) FROM nation").fetchall()[0][0]
        == 25
    )
    con.close()


# --- resumable migration (per-table completion manifest) ---------------------


def test_resume_skips_completed_and_redoes_partial_derby(spark):
    """Kill a two-table Derby migration mid-way (first table loaded,
    second caught mid-load with partial rows at the destination), then
    resume: the completed table is NOT rewritten, the partial table is
    overwritten, and the end state is oracle-exact vs a clean run."""
    import etlalchemy_spark.migrate as migmod
    from etlalchemy_spark.migrate import JdbcSource
    from etlalchemy_spark.sources.jdbc import write_jdbc
    from pyspark.sql import functions as F

    import pytest

    src_url = "jdbc:derby:memory:resume_src;create=true"
    dst_url = "jdbc:derby:memory:resume_dst;create=true"
    df = spark.range(100).select(
        F.col("id"), F.concat(F.lit("n-"), F.col("id")).alias("name")
    )
    write_jdbc(df, src_url, "aaa", mode="overwrite")
    write_jdbc(df, src_url, "bbb", mode="overwrite")

    mk = lambda: Migration(
        source=JdbcSource(src_url, included_tables=["aaa", "bbb"]),
        target=Target(dst_url, fmt="jdbc", mode="error"),
    )

    real_write = migmod.write_jdbc
    calls: list = []

    def crashing_write(df, url, table, mode="overwrite", **kw):
        calls.append((table, mode))
        if table == "bbb":
            # leave PARTIAL rows at the destination, then die — the
            # worst-case crash point for a naive re-run (append would
            # duplicate, error would refuse)
            real_write(df.where(F.col("id") < 30), url, table, mode="overwrite", **kw)
            raise RuntimeError("simulated crash mid-load")
        return real_write(df, url, table, mode=mode, **kw)

    migmod.write_jdbc = crashing_write
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            mk().run(spark)
    finally:
        migmod.write_jdbc = real_write

    # the manifest recorded: aaa loaded, bbb mid-load
    m = mk()._load_manifest()
    assert m["aaa"]["phase"] == "loaded" and m["aaa"]["rows"] == 100
    assert m["bbb"]["phase"] == "loading"

    # resume: only bbb runs, and it runs as OVERWRITE despite mode=error
    calls.clear()
    migmod.write_jdbc = lambda *a, **kw: (calls.append((a[2], kw.get("mode"))), real_write(*a, **kw))[1]
    try:
        reports, _ = mk().run(spark, resume=True)
    finally:
        migmod.write_jdbc = real_write
    assert [c[0] for c in calls] == ["bbb"]
    assert calls[0][1] == "overwrite"
    assert [(r.table, r.n_rows) for r in reports] == [("bbb", 100)]

    for tbl in ("aaa", "bbb"):
        back = (
            spark.read.format("jdbc")
            .option("url", dst_url)
            .option("dbtable", tbl)
            .load()
        )
        assert sorted(int(r["id"]) for r in back.collect()) == list(range(100))
    assert mk()._load_manifest()["bbb"]["phase"] == "loaded"


def test_resume_file_target_manifest_in_destination(spark, tmp_path):
    """File targets keep the manifest inside the destination directory;
    a completed run resumes to a no-op."""
    mk = lambda: Migration(
        source=FileSource(SF_DIR, included_tables=["nation", "region"]),
        target=Target(str(tmp_path), mode="error"),
    )
    reports1, _ = mk().run(spark)
    assert len(reports1) == 2
    assert os.path.exists(tmp_path / "_migration_manifest.json")
    # mode=error would explode on any rewrite — resume must skip both
    reports2, _ = mk().run(spark, resume=True)
    assert reports2 == []


def test_drop_destination_clears_manifest(spark, tmp_path):
    mk = lambda kw: Migration(
        source=FileSource(SF_DIR, included_tables=["region"]),
        target=Target(str(tmp_path), mode="overwrite", **kw),
    )
    mk({}).run(spark)
    assert os.path.exists(tmp_path / "_migration_manifest.json")
    reports, _ = mk({"drop_destination": True}).run(spark, resume=True)
    # history died with the destination: the table re-runs fully
    assert [r.table for r in reports] == ["region"]


def test_resume_append_mode_partial_refuses(spark, tmp_path):
    """A mid-load crash in APPEND mode is not safely resumable: partial
    rows can't be told apart from pre-existing destination rows, so
    overwrite would destroy legacy data and append would duplicate.
    Resume must refuse loudly."""
    import json

    import pytest

    mk = lambda: Migration(
        source=FileSource(SF_DIR, included_tables=["region"]),
        target=Target(str(tmp_path), mode="append"),
    )
    mk().run(spark)
    # simulate the crash: mark region as caught mid-load
    mp = tmp_path / "_migration_manifest.json"
    m = json.loads(mp.read_text())
    m["region"]["phase"] = "loading"
    mp.write_text(json.dumps(m))
    with pytest.raises(ValueError, match="append"):
        mk().run(spark, resume=True)


def test_resume_reverifies_destination_existence(spark, tmp_path):
    """A manifest can outlive its destination (url-keyed jdbc temp
    manifests especially). Resume must not trust 'loaded' entries whose
    table is absent from the CURRENT destination."""
    import shutil

    mk = lambda: Migration(
        source=FileSource(SF_DIR, included_tables=["nation", "region"]),
        target=Target(str(tmp_path / "dest"), mode="overwrite",
                      manifest_path=str(tmp_path / "manifest.json")),
    )
    reports1, _ = mk().run(spark)
    assert len(reports1) == 2
    # destination recreated empty behind our back; manifest survives
    shutil.rmtree(tmp_path / "dest")
    reports2, _ = mk().run(spark, resume=True)
    assert sorted(r.table for r in reports2) == ["nation", "region"]
    assert os.path.exists(tmp_path / "dest" / "nation.parquet")


@pytest.mark.parametrize("fmt", ["parquet", "jdbc", "duckdb", "sqlite"])
def test_resume_still_validates_fks_for_skipped_tables(spark, tmp_path, fmt):
    """Skipping a LOAD on resume must not silently skip its FK
    VALIDATION: skipped tables are read back from the destination, on
    every target."""
    import etlalchemy_spark.migrate as migmod

    if fmt == "jdbc":
        target = Target(
            f"jdbc:derby:memory:{tmp_path.name};create=true", fmt="jdbc", mode="error",
            manifest_path=str(tmp_path / "manifest.json"),
        )
    elif fmt in ("duckdb", "sqlite"):
        target = Target(str(tmp_path / f"dest.{fmt}"), fmt=fmt, mode="error")
    else:
        target = Target(str(tmp_path), mode="error")

    calls = []
    real = migmod.fk_orphan_count

    def counting(child, parent, fk):
        calls.append(fk.table)
        return real(child, parent, fk)

    mk = lambda: Migration(
        source=FileSource(SF_DIR, included_tables=["nation", "region"]),
        target=target,
        fks=[FKSpec("nation", ["n_regionkey"], "region", ["r_regionkey"])],
        validate_fks=True,
    )
    mk().run(spark)
    migmod.fk_orphan_count = counting
    try:
        reports, _ = mk().run(spark, resume=True)
    finally:
        migmod.fk_orphan_count = real
    assert reports == []  # both tables skipped...
    assert calls == ["nation"]  # ...but the FK check still ran


def test_drop_destination_removes_sqlite_file_and_sidecars(spark, tmp_path):
    """drop_database parity on a SQLite target: the database file and
    its -journal/-wal/-shm sidecars all go."""
    import sqlite3

    db = str(tmp_path / "dest.sqlite")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE stale (x)")
    con.commit()
    con.close()
    sidecars = [db + s for s in ("-journal", "-wal", "-shm")]
    for p in sidecars:
        open(p, "w").close()
    reports, _ = Migration(
        source=FileSource(SF_DIR, included_tables=["region"]),
        target=Target(db, fmt="sqlite", mode="error", drop_destination=True),
    ).run(spark)
    assert [r.n_rows for r in reports] == [5]
    assert not any(os.path.exists(p) for p in sidecars)
    con = sqlite3.connect(db)
    try:
        assert [r[0] for r in con.execute("SELECT name FROM sqlite_master WHERE type = 'table'")] == ["region"]
    finally:
        con.close()


@pytest.mark.parametrize("fmt", ["duckdb", "sqlite"])
def test_bulk_migration_writes_no_stage_files(spark, tmp_path, fmt):
    """DuckDB and SQLite targets take each table as Arrow: a migration
    leaves the database file and its manifest, and no CSV stage. A
    ``{db}.csv_stage`` directory that versions before the Arrow handoff
    left goes with ``drop_destination``."""
    db = str(tmp_path / f"dest.{fmt}")
    os.makedirs(os.path.join(db + ".csv_stage", "region"))
    open(os.path.join(db + ".csv_stage", "region", "part-00000.csv"), "w").close()
    reports, _ = Migration(
        source=FileSource(SF_DIR, included_tables=["region", "nation"]),
        target=Target(db, fmt=fmt, drop_destination=True),
    ).run(spark)
    assert {r.table: r.n_rows for r in reports} == {"nation": 25, "region": 5}
    assert not os.path.exists(db + ".csv_stage")
    left = [f for _, ds, fs in os.walk(tmp_path) for f in ds + fs]
    assert not [f for f in left if "stage" in f or f.startswith("part-")], left


@pytest.mark.parametrize("fmt", ["parquet", "duckdb", "sqlite", "jdbc"])
def test_unknown_mode_is_refused_before_anything_is_touched(spark, tmp_path, fmt):
    """A mode outside error | overwrite | append (a typo, or Spark's
    'ignore') is refused before the destination is dropped or loaded —
    it must not silently append."""
    path = {
        "parquet": str(tmp_path / "dest"),
        "jdbc": f"jdbc:derby:memory:{tmp_path.name};create=true",
    }.get(fmt, str(tmp_path / f"dest.{fmt}"))
    mk = lambda mode, **kw: Migration(
        source=FileSource(SF_DIR, included_tables=["region"]),
        target=Target(path, fmt=fmt, mode=mode, manifest_path=str(tmp_path / "m.json"), **kw),
    )
    assert [r.n_rows for r in mk("overwrite").run(spark)[0]] == [5]
    for mode in ("ovewrite", "ignore"):
        with pytest.raises(ValueError, match="unknown mode"):
            mk(mode, drop_destination=True).run(spark)
    # nothing was dropped, re-loaded or appended
    assert mk("append")._load_manifest()["region"]["rows"] == 5
    assert [r.n_rows for r in mk("overwrite").run(spark)[0]] == [5]
    assert mk("overwrite")._sink().exists(spark, "region")


def test_bulk_loaders_refuse_an_unknown_mode(spark, tmp_path):
    from etlalchemy_spark.sources.bulkload import bulk_load_duckdb, bulk_load_sqlite

    df = spark.createDataFrame([(1, "a")], "id long, s string")
    for load in (bulk_load_duckdb, bulk_load_sqlite):
        db = str(tmp_path / f"{load.__name__}.db")
        assert load(df, db, "t") == 1
        with pytest.raises(ValueError, match="unknown mode"):
            load(df, db, "t", mode="ovewrite")
        assert load(df, db, "t", mode="overwrite") == 1


def test_jdbc_manifest_keyed_on_source_and_destination():
    """The default JDBC resume manifest must differ when the SOURCE
    differs, even for the same destination url — otherwise a second
    migration from another source adopts the first run's manifest and
    silently skips its tables as 'loaded'."""
    from etlalchemy_spark.migrate import FileSource, JdbcSource, Migration, Target

    dst = Target(path="jdbc:derby:memory:manifestkey", fmt="jdbc")
    a = Migration(source=FileSource(path="/data/a"), target=dst)
    b = Migration(source=FileSource(path="/data/b"), target=dst)
    c = Migration(source=JdbcSource(url="jdbc:derby:memory:src"), target=dst)
    paths = {a._manifest_path(), b._manifest_path(), c._manifest_path()}
    assert len(paths) == 3
    # same (source, destination) pair stays stable across runs
    assert a._manifest_path() == Migration(
        source=FileSource(path="/data/a"), target=dst
    )._manifest_path()
    # explicit manifest_path still wins
    e = Target(path="jdbc:derby:memory:manifestkey", fmt="jdbc", manifest_path="/x/m.json")
    assert Migration(source=a.source, target=e)._manifest_path() == "/x/m.json"


# --- concurrent table loads ---------------------------------------------------


def _write_tables(path, n):
    """``n`` small parquet tables t0..t{n-1}; table i holds ids 0..10(i+1)-1."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    for i in range(n):
        ids = list(range(10 * (i + 1)))
        pq.write_table(
            pa.table({"id": ids, "name": [f"n-{v}" for v in ids]}),
            os.path.join(path, f"t{i}.parquet"),
        )
    return {f"t{i}": 10 * (i + 1) for i in range(n)}


def _duckdb_content(db):
    import duckdb

    con = duckdb.connect(db, read_only=True)
    try:
        out = {}
        for (t,) in con.execute("SELECT table_name FROM information_schema.tables").fetchall():
            out[t] = sorted(r[0] for r in con.execute(f'SELECT id FROM "{t}"').fetchall())
        return out
    finally:
        con.close()


def _fail_one_table_mid_flight(spark, tmp_path, mode):
    """Migrate width + 2 tables into DuckDB; the first ``width`` tables
    meet at a barrier inside the loader, then t1 raises while the rest
    load. Returns (migration factory, expected rows per table, db path)."""
    import threading

    import pytest

    from etlalchemy_spark.sources import bulkload

    width = spark.sparkContext.defaultParallelism
    want = _write_tables(str(tmp_path / "src"), width + 2)
    db = str(tmp_path / "dest.duckdb")
    mk = lambda: Migration(
        source=FileSource(str(tmp_path / "src")),
        target=Target(db, fmt="duckdb", mode=mode),
    )
    real = bulkload.bulk_load_duckdb
    barrier = threading.Barrier(width, timeout=60)

    def loader(df, db_path, table, *a, **kw):
        barrier.wait()
        if table == "t1":
            raise RuntimeError("injected load failure")
        return real(df, db_path, table, *a, **kw)

    bulkload.bulk_load_duckdb = loader
    try:
        with pytest.raises(RuntimeError, match="injected load failure"):
            mk().run(spark)
    finally:
        bulkload.bulk_load_duckdb = real

    manifest = mk()._load_manifest()
    started = [f"t{i}" for i in range(width)]
    for t in started:
        if t != "t1":
            assert manifest[t] == {"phase": "loaded", "dest": t, "rows": want[t]}
    assert manifest["t1"]["phase"] == "loading"
    assert set(manifest) == set(started)  # the rest never started
    got = _duckdb_content(db)
    assert got == {t: list(range(want[t])) for t in started if t != "t1"}
    return mk, want, db


def test_concurrent_failure_then_resume_overwrite(spark, tmp_path):
    """One table fails while others are in flight: the first error is
    re-raised, finished tables are recorded 'loaded', the failed one
    'loading', unstarted ones not at all; resume completes the run
    exactly, with no duplicate rows."""
    mk, want, db = _fail_one_table_mid_flight(spark, tmp_path, "overwrite")
    width = spark.sparkContext.defaultParallelism
    reports, _ = mk().run(spark, resume=True)
    redo = ["t1", f"t{width}", f"t{width + 1}"]
    assert [(r.table, r.n_rows) for r in reports] == [(t, want[t]) for t in redo]
    assert _duckdb_content(db) == {t: list(range(n)) for t, n in want.items()}
    assert all(e["phase"] == "loaded" for e in mk()._load_manifest().values())


def test_concurrent_failure_then_resume_append(spark, tmp_path):
    """In append mode resume refuses only the table caught mid-load;
    once that one is cleaned up, the tables that never started load
    normally and the loaded ones are not appended twice."""
    import json

    import pytest

    mk, want, db = _fail_one_table_mid_flight(spark, tmp_path, "append")
    with pytest.raises(ValueError, match="'t1' was mid-load in append mode"):
        mk().run(spark, resume=True)
    # the cleanup the refusal asks for: t1 holds no rows (the failure hit
    # before its load touched the destination), so forget its entry
    mp = mk()._manifest_path()
    m = json.loads(open(mp).read())
    del m["t1"]
    with open(mp, "w") as f:
        json.dump(m, f)
    width = spark.sparkContext.defaultParallelism
    reports, _ = mk().run(spark, resume=True)
    assert [r.table for r in reports] == ["t1", f"t{width}", f"t{width + 1}"]
    assert _duckdb_content(db) == {t: list(range(n)) for t, n in want.items()}


def test_concurrent_tables_inherit_callers_job_group(spark, tmp_path):
    """Workers carry the caller's job group: every table's jobs are
    billed to it (and cancelJobGroup reaches them)."""
    sc = spark.sparkContext
    sc.setJobGroup("g", "concurrent migrate")
    try:
        reports, _ = Migration(
            source=FileSource(SF_DIR, included_tables=["nation", "region", "supplier"]),
            target=Target(str(tmp_path / "dest.duckdb"), fmt="duckdb"),
        ).run(spark)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert len(reports) == 3
    assert len(sc.statusTracker().getJobIdsForGroup("g")) >= len(reports)


def test_concurrent_sqlite_loads_take_turns(spark, tmp_path):
    """Overlapping loads into one SQLite file take turns on its single
    writer: no 'database is locked' even with a near-zero busy timeout,
    exact content, and reports in reflection order although the first
    table finishes last."""
    import sqlite3
    import threading
    import time

    import etlalchemy_spark.migrate as migmod
    from etlalchemy_spark.sources import bulkload

    tables = ["nation", "region", "supplier"]
    db = str(tmp_path / "dest.sqlite")
    spans: dict[str, tuple[float, float]] = {}
    real_insert, real_read, real_connect = (
        bulkload._sqlite_insert, migmod.read_file, sqlite3.connect,
    )

    def slow_insert(con, q, *a, **kw):
        t0 = time.monotonic()
        time.sleep(0.5)  # hold the write transaction open
        real_insert(con, q, *a, **kw)
        spans[q] = (t0, time.monotonic())

    def slow_first_read(spark_, location, fmt="parquet"):
        if location.endswith("nation.parquet"):
            time.sleep(1.5)
        return real_read(spark_, location, fmt)

    bulkload._sqlite_insert = slow_insert
    migmod.read_file = slow_first_read
    sqlite3.connect = lambda *a, **kw: real_connect(*a, **{**kw, "timeout": 0.05})
    try:
        reports, ddl = Migration(
            source=FileSource(SF_DIR, included_tables=tables),
            target=Target(db, fmt="sqlite"),
            indexes=[IndexSpec("nation", ["n_nationkey"]), IndexSpec("region", ["r_regionkey"])],
        ).run(spark)
    finally:
        bulkload._sqlite_insert = real_insert
        migmod.read_file = real_read
        sqlite3.connect = real_connect

    assert [r.table for r in reports] == tables
    assert len(ddl) == 2 and '"nation"' in ddl[0] and '"region"' in ddl[1]
    assert len(spans) == 3
    ordered = sorted(spans.values())
    assert all(a[1] <= b[0] for a, b in zip(ordered, ordered[1:]))  # one writer at a time
    want = {
        t: read_file(spark, os.path.join(SF_DIR, f"{t}.parquet")).count() for t in tables
    }
    con = real_connect(db)
    try:
        for t in tables:
            assert con.execute(f'SELECT COUNT(*) FROM "{t}"').fetchone()[0] == want[t]
    finally:
        con.close()
    assert {r.table: r.n_rows for r in reports} == want


def test_concurrent_manifest_updates_are_not_lost(spark, tmp_path):
    """Stress the shared manifest: many tables, a tiny switch interval,
    a loader that returns at once. Every table must end 'loaded' with
    its own row count (a lost or torn update breaks that)."""
    import sys
    import threading

    from etlalchemy_spark.sources import bulkload

    n = 40
    want = _write_tables(str(tmp_path / "src"), n)
    real = bulkload.bulk_load_duckdb

    def instant(df, db_path, table, *a, report=None, **kw):
        report.rows, report.loaded, report.decisions = want[table], df, []
        return want[table]

    mig = Migration(
        source=FileSource(str(tmp_path / "src")),
        target=Target(str(tmp_path / "dest.duckdb"), fmt="duckdb"),
    )
    out: dict = {}
    interval = sys.getswitchinterval()
    bulkload.bulk_load_duckdb = instant
    sys.setswitchinterval(1e-6)
    try:
        t = threading.Thread(target=lambda: out.update(reports=mig.run(spark)[0]))
        t.start()
        t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
        bulkload.bulk_load_duckdb = real
    assert not t.is_alive()
    assert [(r.table, r.n_rows) for r in out["reports"]] == sorted(want.items())
    assert mig._load_manifest() == {
        t: {"phase": "loaded", "dest": t, "rows": rows} for t, rows in want.items()
    }
