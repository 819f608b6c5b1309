"""Catalog reflection (S1): enumerate tables and their schemas.

The reference reflects via SQLAlchemy ``Inspector`` + ``MetaData``
(upstream ETLAlchemySource.py ≈L850–950). Here a "database" is either
a directory of files (one table per parquet/csv/... path) or a JDBC
catalog (information_schema probe). Include/exclude filtering (S3) is
applied to the reflected table list.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import types as T


@dataclass
class TableInfo:
    name: str
    location: str  # file path or JDBC table name
    fmt: str  # parquet/csv/... or "jdbc"
    schema: T.StructType | None = None


def reflect_dir(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    included_tables: list[str] | None = None,
    excluded_tables: list[str] | None = None,
    with_schema: bool = True,
) -> list[TableInfo]:
    """S1+S3 over a file directory: each ``<name>.<fmt>`` is a table.
    Schema comes from the file footer (parquet/orc) — a metadata read,
    not a scan."""
    out: list[TableInfo] = []
    for p in sorted(glob.glob(os.path.join(path, f"*.{fmt}"))):
        name = os.path.splitext(os.path.basename(p))[0]
        if included_tables and name not in included_tables:
            continue
        if excluded_tables and name in excluded_tables:
            continue
        schema = spark.read.format(fmt).load(p).schema if with_schema else None
        out.append(TableInfo(name=name, location=p, fmt=fmt, schema=schema))
    return out


def _sql_lit(s: str) -> str:
    """SQL string literal: double embedded quotes (every dialect's
    standard literal escaping — interpolating raw caller input into the
    catalog probe would both break on and inject through quotes)."""
    return "'" + s.replace("'", "''") + "'"


def system_tables_query(
    dialect: str, catalog: str | None = None, schema: str | None = None
) -> str:
    """S1 per dialect: the table-enumeration probe as a jdbc dbtable
    subquery, returning SCHEMA-QUALIFIED names (an unqualified name is
    ambiguous when the same table exists in two schemas, and unreadable
    when it lives outside the connection's default schema).
    information_schema for the engines that have it; system catalogs
    for Derby (SYS.SYSTABLES ⋈ SYSSCHEMAS, default schema APP) and
    Oracle (ALL_TABLES)."""
    if dialect == "derby":
        sch = schema or "APP"  # Derby's default user schema
        return (
            "(SELECT s.SCHEMANAME || '.' || t.TABLENAME AS table_name "
            "FROM SYS.SYSTABLES t JOIN SYS.SYSSCHEMAS s "
            "ON t.SCHEMAID = s.SCHEMAID "
            f"WHERE t.TABLETYPE = 'T' AND s.SCHEMANAME = {_sql_lit(sch)}) t"
        )
    if dialect == "oracle":
        where = f" WHERE OWNER = {_sql_lit(schema)}" if schema else ""
        return f"(SELECT OWNER || '.' || TABLE_NAME AS table_name FROM ALL_TABLES{where}) t"
    return information_schema_query(catalog, schema)


def reflect_jdbc(
    spark: SparkSession,
    url: str,
    included_tables: list[str] | None = None,
    excluded_tables: list[str] | None = None,
    with_schema: bool = False,
    catalog: str | None = None,
    schema: str | None = None,
    **options,
) -> list[TableInfo]:
    """S1+S3 over a LIVE JDBC catalog: enumerate base tables through
    the engine's system tables (one query on the driver, no Spark
    job), filter, and (optionally) resolve each table's Spark schema
    with a zero-row probe. Name matching is case-insensitive —
    case-folding catalogs (Derby, Oracle) store unquoted identifiers
    uppercased; ``TableInfo.name`` is normalized to lowercase for
    destination naming while ``location`` keeps the catalog's exact
    spelling for reads."""
    from etlalchemy_spark.sources.jdbc import dialect_of, driver_jdbc

    listing = system_tables_query(dialect_of(url), catalog, schema)
    opts = {"url": url, "dbtable": listing, **{k: str(v) for k, v in options.items()}}
    with driver_jdbc(spark, opts) as (_, query):
        names = sorted(r[0] for r in query(f"SELECT * FROM {listing}")[1])
    inc = {n.lower() for n in included_tables} if included_tables else None
    exc = {n.lower() for n in excluded_tables} if excluded_tables else set()
    out: list[TableInfo] = []
    for cat_name in names:
        # filters/dest-naming use the bare table name; location keeps
        # the schema-qualified catalog spelling for reads
        name = cat_name.split(".")[-1].lower()
        if inc is not None and name not in inc:
            continue
        if name in exc:
            continue
        schema_t = None
        if with_schema:
            probe = (
                spark.read.format("jdbc").option("url", url).option("dbtable", cat_name)
            )
            for k, v in options.items():
                probe = probe.option(k, str(v))
            schema_t = probe.load().schema  # resolved via a 0-row query
        out.append(TableInfo(name=name, location=cat_name, fmt="jdbc", schema=schema_t))
    dupes = {
        n: locs
        for n in {i.name for i in out}
        if len(locs := [i.location for i in out if i.name == n]) > 1
    }
    if dupes:
        # same destination name from two source schemas (or two case
        # spellings): a silent last-write-wins migration would drop one.
        # include/exclude can't fix this — they match the BARE name and
        # would keep or drop both copies together — so point at the
        # knob that can.
        raise ValueError(
            f"reflected tables collapse to duplicate destination names "
            f"{dupes}; scope the reflection to one schema "
            "(JdbcSource.schema / reflect_jdbc(schema=...)) or migrate "
            "each schema in its own run"
        )
    return out


def information_schema_query(catalog: str | None = None, schema: str | None = None) -> str:
    """S1 for JDBC: the table-enumeration probe pushed to the source
    (wrap as a dbtable subquery). Standard information_schema works for
    MySQL/Postgres/MSSQL; Oracle would use ALL_TABLES. Names come back
    SCHEMA-QUALIFIED like every other branch — otherwise tables outside
    the connection's default schema are unreadable and same-named
    tables in two schemas would silently collapse to one destination.
    Qualification uses CONCAT(), not ``||``: ``||`` is logical OR under
    MySQL's default sql_mode (every name would evaluate to '0'/'1') and
    a syntax error on SQL Server, while CONCAT() is accepted by MySQL,
    SQL Server (2012+), and Postgres alike."""
    where = ["table_type = 'BASE TABLE'"]
    if catalog:
        where.append(f"table_catalog = {_sql_lit(catalog)}")
    if schema:
        where.append(f"table_schema = {_sql_lit(schema)}")
    return (
        "(SELECT CONCAT(table_schema, '.', table_name) AS table_name "
        "FROM information_schema.tables WHERE "
        + " AND ".join(where)
        + ") t"
    )
