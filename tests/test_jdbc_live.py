"""LIVE JDBC execution of the S1/S2/W3 jdbc legs against embedded
Derby — the one JDBC engine whose driver ships on Spark's own
classpath (derby*.jar, used for the Hive metastore). In-memory Derby
lives inside the single local-mode JVM, so every executor task's
connection reaches the same database: `spark.read/write.jdbc` runs the
REAL datasource code path (driver resolution, option plumbing, dialect
type mapping, partitioned scans, bounds-probe queries) — previously
the only untested residue of the jar-blocked Postgres/MySQL legs."""

import pytest
from pyspark.sql import functions as F

from etlalchemy_spark.sources.jdbc import (
    read_jdbc_by_predicates,
    read_jdbc_partitioned,
    write_jdbc,
)

_N = 0


def _url():
    """Fresh in-memory database per test (same-JVM scoped)."""
    global _N
    _N += 1
    return f"jdbc:derby:memory:live{_N};create=true"


def _src(spark):
    return spark.range(100).select(
        F.col("id"),
        F.concat(F.lit("name-"), F.col("id")).alias("name"),
        (F.col("id").cast("double") * 1.5).alias("v"),
    )


def test_write_then_plain_read_roundtrip(spark):
    url = _url()
    df = _src(spark)
    write_jdbc(df, url, "t_round", mode="overwrite")
    back = spark.read.format("jdbc").option("url", url).option("dbtable", "t_round").load()
    assert back.count() == 100
    src = {r["id"]: (r["name"], r["v"]) for r in df.collect()}
    got = {r["id"]: (r["name"], r["v"]) for r in back.collect()}
    assert got == src


def test_partitioned_read_with_live_bounds_probe(spark):
    url = _url()
    write_jdbc(_src(spark), url, "t_part", mode="overwrite")
    # no explicit bounds: the MIN/MAX pushdown probe executes live
    back = read_jdbc_partitioned(
        spark, url, "t_part", partition_column="id", num_partitions=4
    )
    assert back.rdd.getNumPartitions() == 4
    assert sorted(r["id"] for r in back.collect()) == list(range(100))


def test_partitioned_read_empty_table_null_bounds(spark):
    url = _url()
    write_jdbc(_src(spark).where(F.lit(False)), url, "t_empty", mode="overwrite")
    back = read_jdbc_partitioned(
        spark, url, "t_empty", partition_column="id", num_partitions=4
    )
    assert back.count() == 0


def test_predicate_partitioned_read(spark):
    url = _url()
    write_jdbc(_src(spark), url, "t_pred", mode="overwrite")
    # predicates are raw destination-dialect SQL: quote for Derby's
    # case-folding catalog
    back = read_jdbc_by_predicates(
        spark, url, "t_pred", predicates=['"id" < 50', '"id" >= 50']
    )
    assert back.rdd.getNumPartitions() == 2
    assert back.count() == 100


def test_append_mode_doubles_rows(spark):
    url = _url()
    df = _src(spark)
    write_jdbc(df, url, "t_app", mode="overwrite")
    write_jdbc(df, url, "t_app", mode="append")
    back = spark.read.format("jdbc").option("url", url).option("dbtable", "t_app").load()
    assert back.count() == 200


def test_varchar_meta_reaches_live_ddl(spark):
    url = _url()
    df = _src(spark)
    write_jdbc(df, url, "t_ddl", mode="overwrite", varchar_meta={"name": 32})
    # reflect the LIVE catalog: Derby's SYS tables via the jdbc reader
    cols = (
        spark.read.format("jdbc")
        .option("url", url)
        .option(
            "dbtable",
            "(SELECT c.COLUMNNAME, CAST(c.COLUMNDATATYPE AS VARCHAR(64)) AS DT "
            "FROM SYS.SYSCOLUMNS c JOIN SYS.SYSTABLES t "
            "ON c.REFERENCEID = t.TABLEID WHERE t.TABLENAME = 'T_DDL') q",
        )
        .load()
        .collect()
    )
    # Spark quotes column identifiers (case preserved) but not the
    # table name (Derby uppercases it)
    types = {r["COLUMNNAME"]: r["DT"] for r in cols}
    assert types["name"].startswith("VARCHAR(32)")  # standardizer decision landed


def test_live_catalog_table_discovery(spark):
    """S1 executed over a live JDBC catalog: table-name discovery via
    the engine's system tables through spark.read.jdbc."""
    url = _url()
    write_jdbc(_src(spark), url, "t_one", mode="overwrite")
    write_jdbc(_src(spark), url, "t_two", mode="overwrite")
    names = {
        r["TABLENAME"]
        for r in spark.read.format("jdbc")
        .option("url", url)
        .option(
            "dbtable",
            "(SELECT TABLENAME FROM SYS.SYSTABLES WHERE TABLETYPE = 'T') q",
        )
        .load()
        .collect()
    }
    assert {"T_ONE", "T_TWO"} <= names


# --- source-side pushdown (predicates, pruning, aggregates) -----------------


def _executed_plan(df) -> str:
    # scan metadata (PushedFilters/ReadSchema) truncates at 100 chars
    # by default — widen while rendering so asserts see the full list
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)


def test_filter_pushdown_reaches_source_plan(spark):
    """The plan-pinned proof that a filtered partitioned extract drops
    rows AT THE SOURCE: every conjunct appears in the JDBC scan's
    PushedFilters with the ``*`` marker (source-evaluated, no Spark-side
    re-filter) and the unselected column is pruned from ReadSchema."""
    url = _url()
    write_jdbc(_src(spark), url, "t_push", mode="overwrite")
    out = read_jdbc_partitioned(
        spark,
        url,
        "t_push",
        partition_column="id",
        num_partitions=4,
        where="v > 30.0 AND name LIKE 'name-%'",
    ).select("id", "v")
    plan = _executed_plan(out)
    assert "PushedFilters: [" in plan
    assert "*GreaterThan(v,30.0)" in plan
    assert "*StringStartsWith(name,name-)" in plan
    # column pruning reached the source query: name is filtered on but
    # not read back
    assert "ReadSchema: struct<id:bigint,v:double>" in plan
    assert sorted(r["id"] for r in out.collect()) == list(range(21, 100))


def test_pushdown_disabled_keeps_filter_spark_side(spark):
    url = _url()
    write_jdbc(_src(spark), url, "t_nopush", mode="overwrite")
    out = read_jdbc_partitioned(
        spark, url, "t_nopush", where="v > 30.0", push_down_predicate=False
    )
    plan = _executed_plan(out)
    # no '*' marker: nothing is source-evaluated, Spark re-filters
    assert "*GreaterThan" not in plan
    assert "Filter" in plan  # evaluated by Spark instead
    assert out.count() == 79


def test_v2_catalog_aggregate_pushdown(spark):
    """DSv2 JDBCTableCatalog: the GROUP BY executes ON Derby — the scan
    advertises PushedAggregates/PushedGroupByExpressions and ships one
    row per group."""
    from etlalchemy_spark.sources.jdbc import register_jdbc_catalog

    url = _url()
    df = _src(spark).withColumn("g", F.col("id") % 7)
    write_jdbc(df, url, "t_agg", mode="overwrite")
    register_jdbc_catalog(spark, "derby_test_cat", url)
    out = spark.sql(
        "SELECT g, COUNT(*) AS n, MAX(v) AS mx "
        "FROM derby_test_cat.APP.T_AGG GROUP BY g"
    )
    plan = _executed_plan(out)
    assert "PushedAggregates: [COUNT(*), MAX(v)]" in plan
    assert "PushedGroupByExpressions: [g]" in plan
    expected = {
        (r["g"], r["n"], r["mx"])
        for r in df.groupBy("g").agg(F.count("*").alias("n"), F.max("v").alias("mx")).collect()
    }
    assert {(r["g"], r["n"], r["mx"]) for r in out.collect()} == expected


def test_v2_catalog_limit_pushdown_absent_on_derby(spark):
    """Boundary, mechanized (VERDICT r5 ask 8): register_jdbc_catalog
    REQUESTS pushDownLimit, but Derby's JDBC dialect has no LIMIT
    clause builder, so the plan must NOT carry PushedLimit — the limit
    stays Spark-side. If a Spark upgrade teaches the Derby dialect
    LIMIT, this test fails and the honest-boundaries doc
    (sources/jdbc.py register_jdbc_catalog docstring, README) must be
    updated to the new reality."""
    from etlalchemy_spark.sources.jdbc import register_jdbc_catalog

    url = _url()
    write_jdbc(_src(spark), url, "t_limit", mode="overwrite")
    register_jdbc_catalog(spark, "derby_limit_cat", url)
    out = spark.sql("SELECT id, v FROM derby_limit_cat.APP.T_LIMIT LIMIT 5")
    plan = _executed_plan(out)
    assert "PushedLimit" not in plan, (
        "Derby now accepts limit pushdown — update the boundary docs "
        "(sources/jdbc.py, README honest boundaries)"
    )
    assert len(out.collect()) == 5  # Spark-side limit still correct


def test_migration_table_filters_push_to_source(spark):
    """A filtered migration ships only the matching rows: JdbcSource's
    table_filters lands in the extract scan's PushedFilters."""
    from etlalchemy_spark.migrate import JdbcSource, Migration, Target

    src_url, dst_url = _url(), _url()
    write_jdbc(_src(spark), src_url, "people", mode="overwrite")
    reports, _ = Migration(
        source=JdbcSource(
            src_url,
            included_tables=["people"],
            partition_columns={"people": "id"},
            table_filters={"people": "id < 50"},
            num_partitions=4,
        ),
        target=Target(dst_url, fmt="jdbc", mode="overwrite"),
    ).run(spark)
    assert [(r.table, r.n_rows) for r in reports] == [("people", 50)]
    back = (
        spark.read.format("jdbc")
        .option("url", dst_url)
        .option("dbtable", "people")
        .load()
    )
    assert sorted(int(r["id"]) for r in back.collect()) == list(range(50))


def test_gate_pushdown_query_plan(spark):
    """Pin the registered etl_jdbc_pushdown_extract query's plan: both
    predicates pushed (source-evaluated) and only the 4 selected
    columns read."""
    from conftest import SF_DIR

    from etlalchemy_spark.queries.etl import etl_jdbc_pushdown_extract

    out = etl_jdbc_pushdown_extract(spark, SF_DIR)
    plan = _executed_plan(out)
    assert "*GreaterThan(c_acctbal,1000.0)" in plan
    assert "*EqualTo(c_mktsegment,BUILDING)" in plan
    # all 4 selected columns (and only those) reach the source SELECT
    assert "c_custkey" in plan and "c_mktsegment" in plan
    assert plan.count("struct<") == 1 and plan.split("struct<")[1].count(":") == 4


# --- live reflection + db->db migration through the engine API --------------

from etlalchemy_spark.migrate import JdbcSource, Migration, Target
from etlalchemy_spark.sources.reflection import reflect_jdbc, system_tables_query


def test_reflect_jdbc_live_with_filters(spark):
    url = _url()
    write_jdbc(_src(spark), url, "alpha", mode="overwrite")
    write_jdbc(_src(spark), url, "beta", mode="overwrite")
    write_jdbc(_src(spark), url, "gamma", mode="overwrite")
    infos = reflect_jdbc(spark, url, excluded_tables=["beta"])
    assert [i.name for i in infos] == ["alpha", "gamma"]
    assert all(i.fmt == "jdbc" for i in infos)
    only = reflect_jdbc(spark, url, included_tables=["ALPHA"])  # case-insensitive
    assert [i.name for i in only] == ["alpha"]
    with_schema = reflect_jdbc(spark, url, included_tables=["alpha"], with_schema=True)
    assert [f.name for f in with_schema[0].schema.fields] == ["id", "name", "v"]


def test_system_tables_query_dialects():
    assert "SYS.SYSTABLES" in system_tables_query("derby")
    assert "ALL_TABLES" in system_tables_query("oracle")
    assert "information_schema" in system_tables_query("postgresql")


def test_migration_jdbc_to_jdbc_live(spark):
    src_url, dst_url = _url(), _url()
    df = _src(spark)
    write_jdbc(df, src_url, "people", mode="overwrite")
    write_jdbc(df.limit(3), src_url, "skipme", mode="overwrite")
    reports, _ = Migration(
        source=JdbcSource(
            src_url,
            included_tables=["people"],
            partition_columns={"people": "id"},
            num_partitions=4,
        ),
        target=Target(dst_url, fmt="jdbc", mode="overwrite"),
    ).run(spark)
    assert [(r.table, r.n_rows) for r in reports] == [("people", 100)]
    back = (
        spark.read.format("jdbc")
        .option("url", dst_url)
        .option("dbtable", "people")
        .load()
    )
    assert back.count() == 100
    src = {r["id"]: r["name"] for r in df.collect()}
    got = {int(r["id"]): r["name"] for r in back.collect()}
    assert got == src


def _exec_sql(spark, url, stmt):
    con = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = con.createStatement()
        try:
            st.execute(stmt)
        finally:
            st.close()
    finally:
        con.close()


def test_index_fk_ddl_executes_live(spark):
    """M1/M2 executed: the generated index + FK DDL runs on a live
    engine and the FK actually enforces. Identifiers in the specs use
    the catalog's exact spelling (Spark leaves table names unquoted →
    Derby uppercases; column identifiers are written quoted)."""
    from etlalchemy_spark.operators.ddl import DDLEpilogue, FKSpec, IndexSpec

    url = _url()
    parent = spark.range(10).select(F.col("id"), F.lit("p").alias("tag"))
    child = spark.range(100).select(
        F.col("id").alias("cid"), (F.col("id") % 10).alias("pid")
    )
    write_jdbc(parent, url, "par", mode="overwrite")
    write_jdbc(child, url, "chi", mode="overwrite")
    # FK targets need a unique constraint on the referenced column
    _exec_sql(spark, url, 'ALTER TABLE PAR ADD CONSTRAINT par_uq UNIQUE ("id")')

    ep = DDLEpilogue(dialect="derby")
    ep.add_index(IndexSpec(table="CHI", columns=["pid"]))
    ep.add_fk(FKSpec(table="CHI", columns=["pid"], ref_table="PAR", ref_columns=["id"]))
    for stmt in ep.index_ddl() + ep.fk_ddl():
        _exec_sql(spark, url, stmt)

    cons = (
        spark.read.format("jdbc")
        .option("url", url)
        .option(
            "dbtable",
            "(SELECT c.CONSTRAINTNAME, c.TYPE FROM SYS.SYSCONSTRAINTS c "
            "JOIN SYS.SYSTABLES t ON c.TABLEID = t.TABLEID "
            "WHERE t.TABLENAME = 'CHI') q",
        )
        .load()
        .collect()
    )
    assert any(r["TYPE"] == "F" for r in cons)  # the FK landed
    # and it ENFORCES: an orphan insert must be rejected
    with pytest.raises(Exception, match="foreign key|FOREIGN KEY|fk_"):
        _exec_sql(spark, url, 'INSERT INTO CHI ("cid", "pid") VALUES (999, 42)')


def test_drop_destination_executes_on_derby(spark):
    """drop_database parity EXECUTED on the live JDBC target: the
    in-memory Derby database is destroyed before the first table
    loads, so mode='error' succeeds into the reborn-empty catalog."""
    url = _url()
    write_jdbc(_src(spark), url, "leftover", mode="overwrite")
    src2 = _url()
    write_jdbc(_src(spark), src2, "people", mode="overwrite")
    reports, _ = Migration(
        source=JdbcSource(src2, included_tables=["people"]),
        target=Target(url, fmt="jdbc", mode="error", drop_destination=True),
    ).run(spark)
    assert [r.n_rows for r in reports] == [100]
    names = {i.name for i in reflect_jdbc(spark, url)}
    assert names == {"people"}  # 'leftover' died with the old database


def test_system_tables_query_escapes_schema_literal():
    q = system_tables_query("derby", schema="o'brien")
    assert "'o''brien'" in q
    q2 = system_tables_query("oracle", schema="o'brien")
    assert "'o''brien'" in q2


def test_reflect_jdbc_rejects_duplicate_destination_names(spark):
    """Two catalog tables that normalize to the same destination name
    (here: unquoted-uppercase vs quoted-lowercase spellings in one
    schema) must not silently collapse — last write wins would drop
    one of them."""
    url = _url()
    con = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = con.createStatement()
        st.execute("CREATE TABLE DUP_X (A INT)")
        st.execute('CREATE TABLE "dup_x" (A INT)')
        st.close()
    finally:
        con.close()
    with pytest.raises(ValueError, match="duplicate destination"):
        reflect_jdbc(spark, url)


# --- driver-side metadata queries ------------------------------------------


def test_partitioned_reader_and_reflection_start_no_spark_job(spark):
    """The bounds probe and the catalog listing run on the driver: only
    the scans that move rows are Spark jobs."""
    url = _url()
    write_jdbc(_src(spark), url, "t_nojob", mode="overwrite")
    sc = spark.sparkContext
    sc.setJobGroup("metadata-only", "build a partitioned reader, reflect")
    try:
        df = read_jdbc_partitioned(spark, url, "t_nojob", partition_column="id", num_partitions=4)
        infos = reflect_jdbc(spark, url)
        jobs = sc.statusTracker().getJobIdsForGroup("metadata-only")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(jobs) == []
    assert [i.name for i in infos] == ["t_nojob"]
    assert df.rdd.getNumPartitions() == 4


def test_probe_resolves_case_folded_partition_column(spark):
    """Unquoted DDL is stored uppercase (ID); the probe resolves and
    quotes the catalog spelling of partition_column="id"."""
    url = _url()
    _exec_sql(spark, url, "CREATE TABLE t_upper (id INT, name VARCHAR(10))")
    _exec_sql(
        spark, url,
        "INSERT INTO t_upper VALUES " + ", ".join(f"({i}, 'n{i}')" for i in range(40)),
    )
    back = read_jdbc_partitioned(spark, url, "t_upper", partition_column="id", num_partitions=4)
    assert back.rdd.getNumPartitions() == 4
    assert sorted((r["ID"], r["NAME"]) for r in back.collect()) == [(i, f"n{i}") for i in range(40)]


@pytest.mark.parametrize(
    "ddl_type, values",
    [
        ("DATE", [f"'2024-0{m}-1{d}'" for m in range(1, 10) for d in range(3)]),
        (
            "TIMESTAMP",
            [f"'2024-03-0{d} 1{h}:30:00.{d}{h}5'" for d in range(1, 9) for h in range(4)],
        ),
    ],
)
def test_date_and_timestamp_partition_columns(spark, ddl_type, values):
    """DATE and TIMESTAMP bounds reach lowerBound/upperBound in a form
    Spark parses: every row comes back exactly once."""
    url = _url()
    _exec_sql(spark, url, f'CREATE TABLE t_time (k INT, "at" {ddl_type})')
    _exec_sql(
        spark, url, "INSERT INTO t_time VALUES " + ", ".join(f"({i}, {v})" for i, v in enumerate(values))
    )
    want = sorted(
        tuple(r) for r in spark.read.format("jdbc").option("url", url).option("dbtable", "t_time").load().collect()
    )
    back = read_jdbc_partitioned(spark, url, "t_time", partition_column="at", num_partitions=4)
    assert back.rdd.getNumPartitions() == 4
    assert sorted(tuple(r) for r in back.collect()) == want
    assert len(want) == len(values)


def test_probe_gets_the_readers_options(spark):
    url = _url()
    write_jdbc(_src(spark), url, "t_opts", mode="overwrite")
    with pytest.raises(Exception, match="no.such.Driver") as err:
        read_jdbc_partitioned(
            spark, url, "t_opts", partition_column="id", num_partitions=4,
            driver="no.such.Driver",
        )
    assert any(e.name == "_probe_bounds" for e in err.traceback)
