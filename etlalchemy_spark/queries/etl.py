"""Reference-fidelity ETL queries (SURVEY.md Table A, T1–T9/M2/O1).

Each query is the oracle-able twin of a real operator in
``etlalchemy_spark.operators`` / ``etlalchemy_spark.migrate``: the
decision logic (narrowest int, boolean inference, pow-2 VARCHAR,
empty-column elimination, FK orphan detection) is executed by the
engine and the DuckDB SQL recomputes it independently from the data,
so the check stays valid at any scale factor.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etlalchemy_spark.migrate import FileSource, JdbcSource, Migration, Target
from etlalchemy_spark.operators.ddl import FKSpec, fk_orphan_count
from etlalchemy_spark.operators.rules import SchemaRules
from etlalchemy_spark.operators.standardize import standardize
from etlalchemy_spark.registry import register
from etlalchemy_spark.queries._util import t

# --- T1 stats pass: per-column observation in ONE aggregate ---------------

_STATS_COLS_NUM = ["l_orderkey", "l_partkey", "l_linenumber", "l_quantity", "l_extendedprice"]
_STATS_COLS_STR = ["l_returnflag", "l_linestatus"]

_STATS_SQL = " UNION ALL ".join(
    f"""SELECT '{c}' AS col_name, COUNT({c}) AS n_nonnull,
       CAST(MIN({c}) AS DOUBLE) AS min_d, CAST(MAX({c}) AS DOUBLE) AS max_d,
       CAST(NULL AS BIGINT) AS max_len FROM lineitem"""
    for c in _STATS_COLS_NUM
) + " UNION ALL " + " UNION ALL ".join(
    f"""SELECT '{c}' AS col_name, COUNT({c}) AS n_nonnull,
       CAST(NULL AS DOUBLE) AS min_d, CAST(NULL AS DOUBLE) AS max_d,
       CAST(MAX(LENGTH({c})) AS BIGINT) AS max_len FROM lineitem"""
    for c in _STATS_COLS_STR
)


@register("etl_column_stats", oracle=_STATS_SQL, tags=("etl",))
def etl_column_stats(spark, sf_dir):
    """T1 observation pass: one distributed agg over lineitem, reshaped
    long via ``stack``. The oracle recomputes each stat with a per-column
    scan — same values, the engine just does it in one pass."""
    li = t(spark, sf_dir, "lineitem")
    aggs = []
    for c in _STATS_COLS_NUM:
        aggs += [
            F.count(c).alias(f"{c}__n"),
            F.min(c).cast("double").alias(f"{c}__min"),
            F.max(c).cast("double").alias(f"{c}__max"),
        ]
    for c in _STATS_COLS_STR:
        aggs += [
            F.count(c).alias(f"{c}__n"),
            F.max(F.length(c)).cast("bigint").alias(f"{c}__maxlen"),
        ]
    one_row = li.agg(*aggs)
    stack_args = []
    for c in _STATS_COLS_NUM:
        stack_args.append(
            f"'{c}', {c}__n, {c}__min, {c}__max, CAST(NULL AS BIGINT)"
        )
    for c in _STATS_COLS_STR:
        stack_args.append(
            f"'{c}', {c}__n, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), {c}__maxlen"
        )
    n = len(_STATS_COLS_NUM) + len(_STATS_COLS_STR)
    return one_row.select(
        F.expr(
            f"stack({n}, " + ", ".join(stack_args)
            + ") AS (col_name, n_nonnull, min_d, max_d, max_len)"
        )
    )


# --- T2/T3 narrowest-int + boolean decisions ------------------------------

_DOWNSIZE_CASE = """
CASE WHEN not01 = 0 THEN 'boolean'
     WHEN mn >= -128 AND mx <= 127 THEN 'tinyint'
     WHEN mn >= -32768 AND mx <= 32767 THEN 'smallint'
     WHEN mn >= -2147483648 AND mx <= 2147483647 THEN 'int'
     ELSE 'bigint' END
"""

_DOWNSIZE_SQL = f"""
WITH s AS (
  SELECT 'l_linenumber' AS col_name, CAST(MIN(l_linenumber) AS BIGINT) AS mn,
         CAST(MAX(l_linenumber) AS BIGINT) AS mx,
         MAX(CASE WHEN l_linenumber IN (0,1) THEN 0 ELSE 1 END) AS not01 FROM lineitem
  UNION ALL
  SELECT 'l_orderkey', CAST(MIN(l_orderkey) AS BIGINT), CAST(MAX(l_orderkey) AS BIGINT),
         MAX(CASE WHEN l_orderkey IN (0,1) THEN 0 ELSE 1 END) FROM lineitem
  UNION ALL
  SELECT 'l_suppkey', CAST(MIN(l_suppkey) AS BIGINT), CAST(MAX(l_suppkey) AS BIGINT),
         MAX(CASE WHEN l_suppkey IN (0,1) THEN 0 ELSE 1 END) FROM lineitem
  UNION ALL
  SELECT 'is_open', CAST(MIN(is_open) AS BIGINT), CAST(MAX(is_open) AS BIGINT),
         MAX(CASE WHEN is_open IN (0,1) THEN 0 ELSE 1 END)
  FROM (SELECT CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS is_open FROM orders)
)
SELECT col_name, mn, mx, {_DOWNSIZE_CASE} AS decided_type FROM s
"""


@register("etl_downsize_decisions", oracle=_DOWNSIZE_SQL, tags=("etl",))
def etl_downsize_decisions(spark, sf_dir):
    """T2/T3 decision logic computed in-plan: min/max/{0,1}-membership
    per int column → narrowest-type CASE (same ladder as
    operators.standardize._INT_LADDER; the 'is_open' derived column
    exercises boolean inference on a genuine 0/1 population)."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")

    def col_stats(df, c, label=None):
        return df.agg(
            F.lit(label or c).alias("col_name"),
            F.min(c).cast("bigint").alias("mn"),
            F.max(c).cast("bigint").alias("mx"),
            F.max(F.when(F.col(c).isin(0, 1), 0).otherwise(1)).alias("not01"),
        )

    is_open = orders.select(
        F.when(F.col("o_orderstatus") == "O", 1).otherwise(0).alias("is_open")
    )
    stats = (
        col_stats(li, "l_linenumber")
        .unionByName(col_stats(li, "l_orderkey"))
        .unionByName(col_stats(li, "l_suppkey"))
        .unionByName(col_stats(is_open, "is_open"))
    )
    decided = (
        F.when(F.col("not01") == 0, "boolean")
        .when((F.col("mn") >= -128) & (F.col("mx") <= 127), "tinyint")
        .when((F.col("mn") >= -32768) & (F.col("mx") <= 32767), "smallint")
        .when((F.col("mn") >= -(2**31)) & (F.col("mx") <= 2**31 - 1), "int")
        .otherwise("bigint")
    )
    return stats.select("col_name", "mn", "mx", decided.alias("decided_type"))


# --- T4/T8 VARCHAR sizing + empty-column elimination ----------------------

_VARCHAR_SQL = """
WITH s AS (
  SELECT 'lang' AS col_name, COUNT(lang) AS n_nonnull,
         CAST(MAX(LENGTH(lang)) AS BIGINT) AS max_len FROM documents
  UNION ALL
  SELECT 'source', COUNT(source), CAST(MAX(LENGTH(source)) AS BIGINT) FROM documents
  UNION ALL
  SELECT 'text', COUNT(text), CAST(MAX(LENGTH(text)) AS BIGINT) FROM documents
  UNION ALL
  SELECT 'note', COUNT(note), CAST(MAX(LENGTH(note)) AS BIGINT)
  FROM (SELECT CAST(NULL AS VARCHAR) AS note FROM documents)
)
SELECT col_name, n_nonnull,
       CASE WHEN n_nonnull = 0 THEN 'drop_empty' ELSE 'keep' END AS action,
       CASE WHEN n_nonnull = 0 THEN CAST(NULL AS BIGINT)
            WHEN max_len <= 1 THEN 1
            ELSE CAST(POWER(2, LENGTH(BIN(max_len - 1))) AS BIGINT)
       END AS varchar_n
FROM s
"""


@register("etl_varchar_sizing", oracle=_VARCHAR_SQL, tags=("etl",))
def etl_varchar_sizing(spark, sf_dir):
    """T4 pow-2 VARCHAR right-sizing + T8 all-NULL elimination. The
    injected 'note' column is genuinely all-NULL, proving drop_empty.
    pow2 via bit-length of (n-1): exact integer logic in both engines."""
    docs = t(spark, sf_dir, "documents").withColumn("note", F.lit(None).cast("string"))

    def col_stats(c):
        return docs.agg(
            F.lit(c).alias("col_name"),
            F.count(c).alias("n_nonnull"),
            F.max(F.length(c)).cast("bigint").alias("max_len"),
        )

    stats = (
        col_stats("lang")
        .unionByName(col_stats("source"))
        .unionByName(col_stats("text"))
        .unionByName(col_stats("note"))
    )
    pow2 = F.pow(F.lit(2.0), F.length(F.bin(F.col("max_len") - 1))).cast("bigint")
    return stats.select(
        "col_name",
        "n_nonnull",
        F.when(F.col("n_nonnull") == 0, "drop_empty").otherwise("keep").alias("action"),
        F.when(F.col("n_nonnull") == 0, F.lit(None).cast("bigint"))
        .when(F.col("max_len") <= 1, 1)
        .otherwise(pow2)
        .alias("varchar_n"),
    )


# --- T2 applied end-to-end (the real standardize operator) ----------------

_APPLY_SQL = """
SELECT CAST(l_linenumber AS TINYINT) AS l_linenumber,
       l_quantity, l_extendedprice, l_returnflag, l_linestatus, l_shipdate
FROM lineitem
"""


@register("etl_standardize_apply", oracle=_APPLY_SQL, tags=("etl",))
def etl_standardize_apply(spark, sf_dir):
    """Runs the REAL operators.standardize pass (observe → decide →
    cast) on sf-stable columns; the oracle hardcodes the expected
    outcome (l_linenumber ∈ 1..7 at every SF → TINYINT)."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_linenumber", "l_quantity", "l_extendedprice",
        "l_returnflag", "l_linestatus", "l_shipdate",
    )
    out, _decisions = standardize(li)
    return out


# --- M2 FK integrity validation -------------------------------------------

_FK_SQL = """
SELECT 'lineitem(l_orderkey)->orders' AS fk,
       (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NOT NULL
        AND NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)) AS n_orphans
UNION ALL
SELECT 'orders(o_custkey)->customer',
       (SELECT COUNT(*) FROM orders WHERE o_custkey IS NOT NULL
        AND NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey))
UNION ALL
SELECT 'customer(c_nationkey)->nation',
       (SELECT COUNT(*) FROM customer WHERE c_nationkey IS NOT NULL
        AND NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = c_nationkey))
UNION ALL
SELECT 'orders(o_custkey)->customer_even',
       (SELECT COUNT(*) FROM orders WHERE o_custkey IS NOT NULL
        AND NOT EXISTS (SELECT 1 FROM customer
                        WHERE c_custkey = o_custkey AND c_custkey % 2 = 0))
"""


@register("etl_fk_integrity", oracle=_FK_SQL, tags=("etl", "join"))
def etl_fk_integrity(spark, sf_dir):
    """M2 validation: orphan counts per FK edge via left-anti joins
    (operators.ddl.fk_orphan_count). The _even edge is deliberately
    broken (parent restricted to even keys) to prove detection."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    checks = [
        fk_orphan_count(li, orders, FKSpec("lineitem", ["l_orderkey"], "orders", ["o_orderkey"])),
        fk_orphan_count(orders, customer, FKSpec("orders", ["o_custkey"], "customer", ["c_custkey"])),
        fk_orphan_count(customer, nation, FKSpec("customer", ["c_nationkey"], "nation", ["n_nationkey"])),
        fk_orphan_count(
            orders,
            customer.where(F.col("c_custkey") % 2 == 0),
            FKSpec("orders", ["o_custkey"], "customer_even", ["c_custkey"]),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


# --- X1–X4 / T10 rule-driven schema transformation ------------------------

_RULES_CSV = """Table Name, Column Name, New Column Name, New Column Type, Delete
customer, c_name, customer_name, ,
customer, c_nationkey, , BigInteger,
customer, c_mktsegment, , , true
"""

_RULES_SQL = """
SELECT c_custkey, c_name AS customer_name,
       CAST(c_nationkey AS BIGINT) AS c_nationkey,
       c_acctbal AS c_balance
FROM customer
"""


@register("etl_rules_applied", oracle=_RULES_SQL, tags=("etl",))
def etl_rules_applied(spark, sf_dir):
    """The reference's CSV rule format (X3 rename, X3 retype, X4 delete,
    T10 suffix rename) parsed and compiled by operators.rules."""
    rules = SchemaRules.from_csv(
        column_csv=_RULES_CSV,
        renamed_col_suffixes={"_acctbal": "_balance"},
    )
    return rules.transform("customer", t(spark, sf_dir, "customer"))


# --- O1 end-to-end migration ----------------------------------------------

_MIGRATE_SQL = """
SELECT 'nation' AS table_name, (SELECT COUNT(*) FROM nation) AS n_rows, 3 AS n_cols
UNION ALL
SELECT 'region', (SELECT COUNT(*) FROM region), 2
UNION ALL
SELECT 'supplier', (SELECT COUNT(*) FROM supplier), 4
"""


@register("etl_migrate_roundtrip", oracle=_MIGRATE_SQL, tags=("etl", "migrate"))
def etl_migrate_roundtrip(spark, sf_dir):
    """O1 flagship path end-to-end: reflect → standardize → write
    parquet to a temp target, then report (table, rows, cols) — the
    oracle recounts from the source tables."""
    from etlalchemy_spark.queries._util import scratch_dir

    tmp = scratch_dir("migrate", sf_dir)
    mig = Migration(
        source=FileSource(sf_dir, included_tables=["nation", "region", "supplier"]),
        target=Target(tmp, fmt="parquet"),
    )
    reports, _ddl = mig.run(spark)
    rows = [(r.dest_table, r.n_rows, r.n_cols) for r in reports]
    return spark.createDataFrame(rows, "table_name string, n_rows bigint, n_cols int")


# --- W2 SQL-INSERT literal dump -------------------------------------------

_SQL_LIT_PG = """
SELECT 'INSERT INTO nation (n_nationkey, n_name, n_regionkey) VALUES ('
       || CAST(n_nationkey AS VARCHAR) || ', '
       || '''' || replace(n_name, '''', '''''') || '''' || ', '
       || CAST(n_regionkey AS VARCHAR) || ');' AS stmt
FROM nation
"""


@register("etl_sql_literals_pg", oracle=_SQL_LIT_PG, tags=("etl", "sources"))
def etl_sql_literals_pg(spark, sf_dir):
    """W2: postgres-dialect INSERT-statement rendering as a pure column
    expression (literal_value_generator.py parity, upstream ≈L20–80).
    The oracle rebuilds byte-identical statements with string concat —
    proves quoting/escaping, not just row counts."""
    from etlalchemy_spark.sources.literals import insert_statement

    nation = t(spark, sf_dir, "nation")
    return nation.select(insert_statement(nation, "nation", "postgresql"))


_SQL_LIT_ORA = """
SELECT 'INSERT INTO orders (o_orderkey, o_orderdate, o_totalprice) VALUES ('
       || CAST(o_orderkey AS VARCHAR) || ', '
       || 'TO_DATE(''' || strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')
       || ''',''YYYY-MM-DD HH24:MI:SS'')' || ', '
       || CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) || ');' AS stmt
FROM orders
"""


@register("etl_sql_literals_oracle", oracle=_SQL_LIT_ORA, tags=("etl", "sources"))
def etl_sql_literals_oracle(spark, sf_dir):
    """W2: Oracle-dialect rendering (TO_DATE-wrapped timestamps —
    upstream dump_to_oracle_insert_statements ≈L160–250). Doubles
    rescale through DECIMAL(12,2) before rendering
    so both engines print identical text (float shortest-round-trip
    formatting differs between engines)."""
    from etlalchemy_spark.sources.literals import insert_statement

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", F.col("o_totalprice").cast("decimal(12,2)").alias("o_totalprice")
    )
    return orders.select(insert_statement(orders, "orders", "oracle"))


# --- SCD Type 2 merge ------------------------------------------------------

_SCD2_SQL = """
WITH snap0 AS (SELECT s_suppkey, s_name, s_acctbal FROM supplier),
snap1 AS (
  SELECT s_suppkey, s_name,
         CASE WHEN s_nationkey % 5 = 0 THEN s_acctbal + 100 ELSE s_acctbal END AS s_acctbal
  FROM supplier
  WHERE s_suppkey % 97 <> 3
)
SELECT c.s_suppkey, c.s_name, c.s_acctbal,
       TIMESTAMP '1995-01-01' AS valid_from,
       TIMESTAMP '1996-06-01' AS valid_to,
       FALSE AS is_current
FROM snap0 c LEFT JOIN snap1 n USING (s_suppkey)
WHERE n.s_suppkey IS NULL OR n.s_acctbal <> c.s_acctbal
UNION ALL
SELECT c.s_suppkey, c.s_name, c.s_acctbal,
       TIMESTAMP '1995-01-01', NULL, TRUE
FROM snap0 c JOIN snap1 n USING (s_suppkey)
WHERE n.s_acctbal = c.s_acctbal
UNION ALL
SELECT n.s_suppkey, n.s_name, n.s_acctbal,
       TIMESTAMP '1996-06-01', NULL, TRUE
FROM snap1 n LEFT JOIN snap0 c USING (s_suppkey)
WHERE c.s_suppkey IS NULL OR n.s_acctbal <> c.s_acctbal
"""


@register("etl_scd2_merge", oracle=_SCD2_SQL, tags=("etl", "scd"))
def etl_scd2_merge(spark, sf_dir):
    """SCD-2 dimension merge: snapshot 1 modifies the acctbal of every
    nation%5==0 supplier and deletes key%97==3. Changed/vanished rows
    close at the effective timestamp, new versions append — full
    history from ONE full-outer join (operators/scd.py)."""
    from etlalchemy_spark.operators.scd import scd2_init, scd2_merge

    sup = t(spark, sf_dir, "supplier")
    snap0 = sup.select("s_suppkey", "s_name", "s_acctbal")
    snap1 = sup.where(F.col("s_suppkey") % 97 != 3).select(
        "s_suppkey",
        "s_name",
        F.when(F.col("s_nationkey") % 5 == 0, F.col("s_acctbal") + 100)
        .otherwise(F.col("s_acctbal"))
        .alias("s_acctbal"),
    )
    dim = scd2_init(snap0, "1995-01-01")
    return scd2_merge(dim, snap1, "s_suppkey", ["s_acctbal"], "1996-06-01")


# --- data-profiling report -------------------------------------------------

_PROFILE_COLS = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]

_PROFILE_SQL = " UNION ALL ".join(
    f"""SELECT '{c}' AS col_name,
       COUNT(*) - COUNT({c}) AS n_null,
       COUNT(DISTINCT {c}) AS n_distinct,
       CAST(MIN(CAST({c} AS VARCHAR)) AS VARCHAR) AS min_repr,
       CAST(MAX(CAST({c} AS VARCHAR)) AS VARCHAR) AS max_repr
FROM customer"""
    for c in _PROFILE_COLS
)


@register("etl_profile_report", oracle=_PROFILE_SQL, tags=("etl", "profile"))
def etl_profile_report(spark, sf_dir):
    """Column-profiling report (null count, distinct count, lexical
    min/max) — the data-quality pass a migration runs before type
    decisions. One aggregate per column batch; min/max compare as
    strings so one report schema fits every column type (numeric
    min/max live in etl_column_stats)."""
    cust = t(spark, sf_dir, "customer")
    parts = []
    for c in _PROFILE_COLS:
        s = F.col(c).cast("string")
        parts.append(
            cust.agg(
                F.lit(c).alias("col_name"),
                (F.count(F.lit(1)) - F.count(c)).alias("n_null"),
                F.count_distinct(F.col(c)).alias("n_distinct"),
                F.min(s).alias("min_repr"),
                F.max(s).alias("max_repr"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_INCR_MV_SQL = """
SELECT o_custkey,
       COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4) AS DOUBLE) AS total_spent
FROM orders
GROUP BY o_custkey
"""


@register("etl_incremental_mv", oracle=_INCR_MV_SQL, tags=("etl", "agg"))
def etl_incremental_mv(spark, sf_dir):
    """Incremental materialized-view maintenance: the per-customer
    order rollup is kept as mergeable partials (count, decimal sum);
    a new batch (orders from 1997 on) is aggregated ALONE and merged
    into the existing MV state by key — union + re-aggregate, the
    upsert-free formulation that needs no point lookups and scales as
    one shuffle of the (small) delta plus the MV. The oracle is the
    full recompute: maintenance must be indistinguishable from
    rebuilding, including new keys appearing only in the delta."""
    o = t(spark, sf_dir, "orders")
    cutoff = F.lit("1997-01-01").cast("timestamp")

    def partial(df):
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("s"),
        )

    mv = partial(o.where(F.col("o_orderdate") < cutoff))  # existing MV state
    delta = partial(o.where(F.col("o_orderdate") >= cutoff))  # new batch
    return (
        mv.unionByName(delta)
        .groupBy("o_custkey")
        .agg(
            F.sum("n").alias("n_orders"),
            F.sum("s").cast("decimal(38,4)").cast("double").alias("total_spent"),
        )
    )


_CDC_SQL = """
WITH log AS (
  SELECT o_orderkey, o_custkey, o_totalprice, 0 AS seq, 'I' AS op FROM orders
  UNION ALL
  SELECT o_orderkey, o_custkey, o_totalprice + 100.0, 1, 'U'
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, o_custkey, o_totalprice, 2, 'D'
  FROM orders WHERE o_orderkey % 7 = 3
)
SELECT o_orderkey, o_custkey, o_totalprice FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
  FROM log
) WHERE rn = 1 AND op <> 'D'
"""


@register("etl_cdc_apply", oracle=_CDC_SQL, tags=("etl",))
def etl_cdc_apply(spark, sf_dir):
    """Change-data-capture apply: materialize the current snapshot
    from an ordered insert/update/delete log — latest op per key wins,
    deletes drop the key. One window shuffle on the key (no point
    lookups, no driver loop), the lakehouse MERGE formulated as pure
    DataFrame ops. The synthetic log derives deterministically from
    orders so the oracle replays the identical history."""
    from pyspark.sql import Window as W

    o = t(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.lit(0).alias("seq"), F.lit("I").alias("op"),
    )
    upd = o.where(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey", "o_custkey",
        (F.col("o_totalprice") + F.lit(100.0)).alias("o_totalprice"),
        F.lit(1).alias("seq"), F.lit("U").alias("op"),
    )
    dele = o.where(F.col("o_orderkey") % 7 == 3).select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.lit(2).alias("seq"), F.lit("D").alias("op"),
    )
    log = base.unionByName(upd).unionByName(dele)
    w = W.partitionBy("o_orderkey").orderBy(F.desc("seq"))
    return (
        log.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") != "D"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


def _p2_sql(e: str) -> str:
    """Pow-2 VARCHAR rounding (T4) as a SQL CASE over the practical range."""
    arms = " ".join(
        f"WHEN {e} <= {1 << i} THEN {1 << i}" for i in range(0, 14)
    )
    return f"(CASE {arms} ELSE 16384 END)"


def _int_ddl_sql(mn: str, mx: str, no01: str) -> str:
    """Int-downsize ladder (T2/T3) mapped straight to postgres DDL types."""
    return (
        f"(CASE WHEN {no01} = 0 THEN 'BOOLEAN' "
        f"WHEN {mn} >= -32768 AND {mx} <= 32767 THEN 'SMALLINT' "
        f"WHEN {mn} >= -2147483648 AND {mx} <= 2147483647 THEN 'INTEGER' "
        f"ELSE 'BIGINT' END)"
    )


def _no01_sql(c: str) -> str:
    return f"MAX(CASE WHEN {c} IS NULL OR {c} IN (0, 1) THEN 0 ELSE 1 END)"


_CREATE_DDL_SQL = f"""
WITH ns AS (
  SELECT MIN(n_nationkey) AS mn_nk, MAX(n_nationkey) AS mx_nk, {_no01_sql("n_nationkey")} AS no01_nk,
         MAX(length(n_name)) AS len_name,
         MIN(n_regionkey) AS mn_rk, MAX(n_regionkey) AS mx_rk, {_no01_sql("n_regionkey")} AS no01_rk
  FROM nation
),
ss AS (
  SELECT MIN(s_suppkey) AS mn_sk, MAX(s_suppkey) AS mx_sk, {_no01_sql("s_suppkey")} AS no01_sk,
         MAX(length(s_name)) AS len_name,
         MIN(s_nationkey) AS mn_nk, MAX(s_nationkey) AS mx_nk, {_no01_sql("s_nationkey")} AS no01_nk
  FROM supplier
),
cs AS (
  SELECT MIN(c_custkey) AS mn_ck, MAX(c_custkey) AS mx_ck, {_no01_sql("c_custkey")} AS no01_ck,
         MAX(length(c_name)) AS len_name,
         MIN(c_nationkey) AS mn_nk, MAX(c_nationkey) AS mx_nk, {_no01_sql("c_nationkey")} AS no01_nk,
         MAX(length(c_mktsegment)) AS len_seg
  FROM customer
)
SELECT 'nation' AS table_name,
       'CREATE TABLE "nation" ("n_nationkey" ' || {_int_ddl_sql("mn_nk", "mx_nk", "no01_nk")}
       || ', "n_name" VARCHAR(' || CAST({_p2_sql("len_name")} AS VARCHAR)
       || '), "n_regionkey" ' || {_int_ddl_sql("mn_rk", "mx_rk", "no01_rk")} || ')' AS ddl
FROM ns
UNION ALL
SELECT 'supplier',
       'CREATE TABLE "supplier" ("s_suppkey" ' || {_int_ddl_sql("mn_sk", "mx_sk", "no01_sk")}
       || ', "s_name" VARCHAR(' || CAST({_p2_sql("len_name")} AS VARCHAR)
       || '), "s_nationkey" ' || {_int_ddl_sql("mn_nk", "mx_nk", "no01_nk")}
       || ', "s_acctbal" DOUBLE PRECISION)'
FROM ss
UNION ALL
SELECT 'customer',
       'CREATE TABLE "customer" ("c_custkey" ' || {_int_ddl_sql("mn_ck", "mx_ck", "no01_ck")}
       || ', "c_name" VARCHAR(' || CAST({_p2_sql("len_name")} AS VARCHAR)
       || '), "c_nationkey" ' || {_int_ddl_sql("mn_nk", "mx_nk", "no01_nk")}
       || ', "c_acctbal" DOUBLE PRECISION, "c_mktsegment" VARCHAR('
       || CAST({_p2_sql("len_seg")} AS VARCHAR) || '))'
FROM cs
"""


@register("etl_create_table_ddl", oracle=_CREATE_DDL_SQL, tags=("etl", "ddl"))
def etl_create_table_ddl(spark, sf_dir):
    """W4 with fidelity: the destination CREATE TABLE DDL the engine
    emits after the T1–T9 standardization pass — downsized int types
    and data-driven pow-2 VARCHAR(n) sizing, which df.write.jdbc's
    generic DDL path cannot express. The oracle RE-DERIVES the exact
    DDL strings from the same data with the same ladder, so this
    hash-checks the whole decide→emit pipeline, not a golden literal.
    The stats pass is one agg per table (O(#cols) driver result); the
    tinyint/smallint distinction collapses in postgres (both SMALLINT),
    matching the SQL ladder."""
    from etlalchemy_spark.operators.ddl import create_table_ddl
    from etlalchemy_spark.operators.standardize import standardize

    rows = []
    for name in ("nation", "supplier", "customer"):
        _, decisions = standardize(t(spark, sf_dir, name))
        rows.append((name, create_table_ddl(name, decisions, "postgresql")))
    return spark.createDataFrame(rows, "table_name string, ddl string")


_IXFK_DDL_SQL = """
SELECT * FROM (VALUES
  ('index', 'CREATE INDEX "ix_key" ON "orders" ("o_custkey")'),
  ('index', 'CREATE INDEX "ix_key_0" ON "lineitem" ("l_partkey")'),
  ('index', 'CREATE UNIQUE INDEX "ix_orders_pk" ON "orders" ("o_orderkey")'),
  ('fk', 'ALTER TABLE "lineitem" ADD CONSTRAINT "fk_lineitem_orders" FOREIGN KEY ("l_orderkey") REFERENCES "orders" ("o_orderkey")'),
  ('fk', 'ALTER TABLE "orders" ADD CONSTRAINT "fk_orders_customer" FOREIGN KEY ("o_custkey") REFERENCES "customer" ("c_custkey")')
) AS v(stmt_type, ddl)
"""


@register("etl_index_fk_ddl", oracle=_IXFK_DDL_SQL, tags=("etl", "ddl"))
def etl_index_fk_ddl(spark, sf_dir):
    """M1/M2 epilogue parity: index + FK DDL emitted AFTER data load
    (the reference's phase ordering), with its global name-uniquifier —
    two indexes declared with the same name get _0/_1 suffixes. The
    oracle pins the exact statement strings; emission order is
    irrelevant (hash is order-insensitive)."""
    from etlalchemy_spark.operators.ddl import DDLEpilogue, FKSpec, IndexSpec

    ep = DDLEpilogue(dialect="postgresql")
    ep.add_index(IndexSpec("orders", ["o_custkey"], name="ix_key"))
    ep.add_index(IndexSpec("lineitem", ["l_partkey"], name="ix_key"))
    ep.add_index(IndexSpec("orders", ["o_orderkey"], name="ix_orders_pk", unique=True))
    ep.add_fk(FKSpec("lineitem", ["l_orderkey"], "orders", ["o_orderkey"], name="fk_lineitem_orders"))
    ep.add_fk(FKSpec("orders", ["o_custkey"], "customer", ["c_custkey"], name="fk_orders_customer"))
    rows = [("index", s) for s in ep.index_ddl()] + [("fk", s) for s in ep.fk_ddl()]
    return spark.createDataFrame(rows, "stmt_type string, ddl string")


_PIT_SQL = f"""
SELECT l.l_orderkey, l.l_linenumber, l.l_suppkey,
       d.s_acctbal AS version_acctbal, d.valid_from
FROM lineitem l
JOIN ({_SCD2_SQL}) d
  ON l.l_suppkey = d.s_suppkey
 AND d.valid_from <= l.l_shipdate
 AND (d.valid_to IS NULL OR l.l_shipdate < d.valid_to)
WHERE l.l_orderkey < 3000
"""


@register("join_point_in_time_dim", oracle=_PIT_SQL, tags=("etl", "scd", "joins"))
def join_point_in_time_dim(spark, sf_dir):
    """Point-in-time dimension lookup: each fact row joins the SCD-2
    version that was valid AT ITS OWN event time (equi-join on the
    surrogate key + validity-range residual), so facts before the
    snapshot boundary see the old acctbal and later facts the new one.
    The range residual rides on the hash join — no extra shuffle, no
    nested loop; the dim is broadcast-sized by construction. Composes
    the scd2 operator output directly (one shared oracle-checked
    shape)."""
    li = t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 3000)
    dim = etl_scd2_merge(spark, sf_dir)
    cond = (
        (li.l_suppkey == dim.s_suppkey)
        & (dim.valid_from <= li.l_shipdate)
        & (dim.valid_to.isNull() | (li.l_shipdate < dim.valid_to))
    )
    return li.join(dim, cond).select(
        "l_orderkey",
        "l_linenumber",
        "l_suppkey",
        F.col("s_acctbal").alias("version_acctbal"),
        "valid_from",
    )


_CARD_SQL = """
SELECT 'o_custkey' AS col_name, COUNT(DISTINCT o_custkey) AS n_distinct, COUNT(o_custkey) AS n_rows,
       CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) / CAST(COUNT(o_custkey) AS DOUBLE) AS distinct_ratio,
       COUNT(DISTINCT o_custkey) < COUNT(o_custkey) / 10 AS index_candidate
FROM orders
UNION ALL
SELECT 'o_orderstatus', COUNT(DISTINCT o_orderstatus), COUNT(o_orderstatus),
       CAST(COUNT(DISTINCT o_orderstatus) AS DOUBLE) / CAST(COUNT(o_orderstatus) AS DOUBLE),
       COUNT(DISTINCT o_orderstatus) < COUNT(o_orderstatus) / 10
FROM orders
UNION ALL
SELECT 'o_orderkey', COUNT(DISTINCT o_orderkey), COUNT(o_orderkey),
       CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) / CAST(COUNT(o_orderkey) AS DOUBLE),
       COUNT(DISTINCT o_orderkey) < COUNT(o_orderkey) / 10
FROM orders
"""


@register("etl_cardinality_profile", oracle=_CARD_SQL, tags=("etl", "profile"))
def etl_cardinality_profile(spark, sf_dir):
    """Cardinality profiling — the data-driven version of the
    reference's index selection (M1): distinct/total ratio per column
    flags low-cardinality columns as secondary-index / partition-key /
    bucketing candidates before the DDL epilogue. One aggregate per
    column over one scan each (at scale: switch the exact distinct to
    the portable HLL sketch and profile every column in a single
    pass)."""
    orders = t(spark, sf_dir, "orders")

    def prof(c):
        nd, n = F.count_distinct(c), F.count(c)
        return orders.agg(
            F.lit(c).alias("col_name"),
            nd.alias("n_distinct"),
            n.alias("n_rows"),
            (nd.cast("double") / n.cast("double")).alias("distinct_ratio"),
            (nd < n / 10).alias("index_candidate"),
        )

    return prof("o_custkey").unionByName(prof("o_orderstatus")).unionByName(prof("o_orderkey"))


_BULK_SQL = """
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer
"""


@register("etl_bulk_load_roundtrip", oracle=_BULK_SQL, tags=("etl", "bulkload"))
def etl_bulk_load_roundtrip(spark, sf_dir):
    """W3 executed end-to-end (upstream ``send_data`` ≈L750–850): Spark
    hands the table to the destination engine (embedded DuckDB, an
    in-process DBMS whose native bulk path is an Arrow scan) as one
    Arrow table, DuckDB creates the table and loads it in one
    ``INSERT … SELECT`` from that Arrow table read in place; the loaded
    table comes back to Spark as one Arrow table and the oracle
    hash-compares it against the source table — proving the handoff
    (NULL vs '', quoting-free strings, exact doubles) is lossless.
    Postgres/MySQL get the dialect CSV plus the per-file statement
    stream instead (sources/bulkload.bulk_load_statements)."""
    import os

    from etlalchemy_spark.queries._util import scratch_dir
    from etlalchemy_spark.sources.bulkload import bulk_load_duckdb, read_duckdb_table

    db = os.path.join(scratch_dir("bulkload", sf_dir), "dest.duckdb")
    df = t(spark, sf_dir, "customer")
    bulk_load_duckdb(df, db, "customer_bulk")
    return read_duckdb_table(spark, db, "customer_bulk", df.schema).select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )


_JDBC_LIVE_SQL = """
SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer
"""


@register("etl_jdbc_live_roundtrip", oracle=_JDBC_LIVE_SQL, tags=("etl", "jdbc"))
def etl_jdbc_live_roundtrip(spark, sf_dir):
    """S2 + W3's JDBC legs EXECUTED live: customer is bulk-written
    through ``df.write.jdbc`` into embedded Derby (the JDBC engine on
    Spark's own classpath) and read back with the PARTITIONED jdbc
    scan — live MIN/MAX bounds probe, 4 range-partitioned pulls — then
    hash-compared against the source. The Postgres/MySQL legs differ
    only in URL/driver; every line of engine code here (option
    plumbing, bounds probing, dialect type mapping) is the code a real
    deployment runs."""
    from etlalchemy_spark.sources.jdbc import read_jdbc_partitioned, write_jdbc

    url = "jdbc:derby:memory:gate_customer;create=true"
    df = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    write_jdbc(df, url, "customer_live", mode="overwrite")
    return read_jdbc_partitioned(
        spark,
        url,
        "customer_live",
        partition_column="c_custkey",
        num_partitions=4,
    )


_JDBC_PUSHDOWN_SQL = """
SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
WHERE c_acctbal > 1000.0 AND c_mktsegment = 'BUILDING'
"""


@register("etl_jdbc_pushdown_extract", oracle=_JDBC_PUSHDOWN_SQL, tags=("etl", "jdbc"))
def etl_jdbc_pushdown_extract(spark, sf_dir):
    """S2 with SOURCE-SIDE filtering executed live: a filtered,
    projected extract from embedded Derby where BOTH the predicate and
    the column list reach the source query — Catalyst turns the
    ``where`` into the JDBC scan's PushedFilters (each range partition
    issues ``WHERE c_acctbal > 1000.0 AND c_mktsegment = 'BUILDING'``
    on the server) and prunes the unselected columns out of the
    generated SELECT. At 100 TB this is the difference between
    shipping the table and shipping the slice; the upstream reference
    always issued ``SELECT *`` (ETLAlchemySource.py ≈L950–1000).
    tests/test_jdbc_live.py pins PushedFilters/column pruning on this
    exact plan.

    The VARCHAR metadata matters beyond DDL hygiene here: Spark's
    default Derby mapping for strings is CLOB, which Derby cannot
    compare with ``=`` — a pushed equality predicate would fail AT THE
    SOURCE. The standardizer's right-sized VARCHAR(n) (T4) is what
    makes the pushdown legal."""
    from etlalchemy_spark.sources.jdbc import read_jdbc_partitioned, write_jdbc

    url = "jdbc:derby:memory:gate_pushdown;create=true"
    df = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    write_jdbc(
        df,
        url,
        "customer_pd",
        mode="overwrite",
        varchar_meta={"c_name": 64, "c_mktsegment": 16},
    )
    return read_jdbc_partitioned(
        spark,
        url,
        "customer_pd",
        partition_column="c_custkey",
        num_partitions=4,
        where="c_acctbal > 1000.0 AND c_mktsegment = 'BUILDING'",
    )


_JDBC_AGG_PUSHDOWN_SQL = """
SELECT c_nationkey, COUNT(*) AS n_cust, MAX(c_acctbal) AS max_bal
FROM customer GROUP BY c_nationkey
"""


@register("etl_jdbc_agg_pushdown", oracle=_JDBC_AGG_PUSHDOWN_SQL, tags=("etl", "jdbc"))
def etl_jdbc_agg_pushdown(spark, sf_dir):
    """DSv2 AGGREGATE pushdown executed live: customer is served
    through a JDBCTableCatalog and the GROUP BY runs ON THE SOURCE —
    the executed plan's scan reads ``PushedAggregates: [COUNT(*),
    MAX(c_acctbal)], PushedGroupByExpressions: [c_nationkey]``
    (pinned in tests/test_jdbc_live.py), so the source ships one row
    per nation instead of the customer table. COUNT/MAX only: they are
    engine-exact regardless of which engine folds them (a pushed
    SUM(double) would hand the reduction order to the server)."""
    from etlalchemy_spark.sources.jdbc import register_jdbc_catalog, write_jdbc

    url = "jdbc:derby:memory:gate_aggpush;create=true"
    df = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    write_jdbc(df, url, "customer_ap", mode="overwrite")
    register_jdbc_catalog(spark, "derby_aggpush", url)
    return spark.sql(
        "SELECT c_nationkey, COUNT(*) AS n_cust, MAX(c_acctbal) AS max_bal "
        "FROM derby_aggpush.APP.CUSTOMER_AP GROUP BY c_nationkey"
    )


_MIGRATE_JDBC_SQL = """
SELECT n_nationkey, n_name, n_regionkey FROM nation
"""


@register("etl_migrate_jdbc_roundtrip", oracle=_MIGRATE_JDBC_SQL, tags=("etl", "migrate", "jdbc"))
def etl_migrate_jdbc_roundtrip(spark, sf_dir):
    """O1 over a LIVE JDBC destination: the full
    reflect→standardize→load lifecycle into embedded Derby through
    ``df.write.jdbc`` — the exact code path a Postgres/MySQL
    deployment runs — then the loaded table is read back over JDBC and
    hash-compared against the source."""
    url = "jdbc:derby:memory:gate_migrate;create=true"
    mig = Migration(
        source=FileSource(sf_dir, included_tables=["nation"]),
        target=Target(url, fmt="jdbc", mode="overwrite"),
    )
    mig.run(spark)
    # standardization downsized the keys (T2) and Derby hands SMALLINT
    # back as short — restore the source's logical int for the compare
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "nation")
        .load()
        .select(
            F.col("n_nationkey").cast("int").alias("n_nationkey"),
            "n_name",
            F.col("n_regionkey").cast("int").alias("n_regionkey"),
        )
    )


_MIGRATE_DB2DB_SQL = """
SELECT n_nationkey, n_name, n_regionkey FROM nation
"""


@register("etl_migrate_jdbc_to_jdbc", oracle=_MIGRATE_DB2DB_SQL, tags=("etl", "migrate", "jdbc", "bench"))
def etl_migrate_jdbc_to_jdbc(spark, sf_dir):
    """The reference's HEADLINE use case executed live end to end:
    database → database. A source Derby catalog is seeded from the
    fixtures, then Migration reflects it through the engine's system
    tables (reflect_jdbc), pulls nation over a PARTITIONED jdbc scan
    (live bounds probe), standardizes, and loads the destination Derby
    over jdbc; the destination table is read back and hash-compared
    against the original fixture."""
    from etlalchemy_spark.sources.jdbc import write_jdbc

    src_url = "jdbc:derby:memory:gate_db2db_src;create=true"
    dst_url = "jdbc:derby:memory:gate_db2db_dst;create=true"
    for name in ("nation", "region"):
        write_jdbc(t(spark, sf_dir, name), src_url, name, mode="overwrite")
    mig = Migration(
        source=JdbcSource(
            src_url,
            included_tables=["nation"],
            partition_columns={"nation": "n_nationkey"},
            num_partitions=4,
        ),
        target=Target(dst_url, fmt="jdbc", mode="overwrite"),
    )
    mig.run(spark)
    return (
        spark.read.format("jdbc")
        .option("url", dst_url)
        .option("dbtable", "nation")
        .load()
        .select(
            F.col("n_nationkey").cast("int").alias("n_nationkey"),
            "n_name",
            F.col("n_regionkey").cast("int").alias("n_regionkey"),
        )
    )


_BULK_EVENTS_SQL = """
SELECT event_id, ts, user_id, event_type, value FROM events
"""


@register("etl_bulk_load_events_roundtrip", oracle=_BULK_EVENTS_SQL, tags=("etl", "bulkload"))
def etl_bulk_load_events_roundtrip(spark, sf_dir):
    """The µs-precision regression gate for W3: the events table (whose
    ``ts`` values carry sub-millisecond precision) through the duckdb
    bulk path and back. The handoff casts ``timestamp`` columns to the
    session wall clock (``timestamp_ntz``) — this query would
    hash-mismatch the oracle if that conversion ever lost a
    microsecond or shifted a zone."""
    import os

    from etlalchemy_spark.queries._util import scratch_dir
    from etlalchemy_spark.sources.bulkload import bulk_load_duckdb, read_duckdb_table

    db = os.path.join(scratch_dir("bulkload_events", sf_dir), "dest.duckdb")
    df = t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    bulk_load_duckdb(df, db, "events_bulk")
    return read_duckdb_table(spark, db, "events_bulk", df.schema)


_BULK_SQLITE_SQL = """
SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate FROM orders
"""


@register("etl_bulk_load_sqlite_roundtrip", oracle=_BULK_SQLITE_SQL, tags=("etl", "bulkload"))
def etl_bulk_load_sqlite_roundtrip(spark, sf_dir):
    """W3's second EXECUTED destination engine: the same Arrow handoff
    drives stdlib sqlite3 through the ``.import``-equivalent (CREATE
    TABLE + batched positional INSERTs, read through a throwaway DuckDB
    connection), then the loaded table comes back to Spark as one Arrow
    table and the oracle hash-compares it against the source — proving
    the sqlite conventions (NULL vs '', decimals and dates as text) are
    lossless."""
    import os

    from etlalchemy_spark.queries._util import scratch_dir
    from etlalchemy_spark.sources.bulkload import bulk_load_sqlite, read_sqlite_table

    db = os.path.join(scratch_dir("bulkload_sqlite", sf_dir), "dest.sqlite")
    if os.path.exists(db):
        os.remove(db)
    df = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    bulk_load_sqlite(df, db, "orders_bulk")
    return read_sqlite_table(spark, db, "orders_bulk", df.schema)


_MIGRATE_SQLITE_SQL = """
SELECT r_regionkey, r_name FROM region
"""


@register("etl_migrate_sqlite_roundtrip", oracle=_MIGRATE_SQLITE_SQL, tags=("etl", "migrate", "bulkload"))
def etl_migrate_sqlite_roundtrip(spark, sf_dir):
    """O1 through the SECOND executed destination engine: Migration
    drops the sqlite database file, reflects region, standardizes, and
    loads through the .import-equivalent bulk path (Arrow handoff +
    batched typed INSERTs via stdlib sqlite3); the loaded table is
    read back as one Arrow table and hash-compared against the
    source."""
    import os

    from etlalchemy_spark.queries._util import scratch_dir
    from etlalchemy_spark.sources.bulkload import read_sqlite_table

    db = os.path.join(scratch_dir("migrate_sqlite", sf_dir), "dest.sqlite")
    mig = Migration(
        source=FileSource(sf_dir, included_tables=["region"]),
        target=Target(db, fmt="sqlite", mode="error", drop_destination=True),
    )
    mig.run(spark)
    src_schema = t(spark, sf_dir, "region").schema
    return read_sqlite_table(spark, db, "region", src_schema).select("r_regionkey", "r_name")


_MIGRATE_DUCK_SQL = """
SELECT n_nationkey, n_name, n_regionkey FROM nation
"""


@register("etl_migrate_duckdb_roundtrip", oracle=_MIGRATE_DUCK_SQL, tags=("etl", "migrate", "bulkload"))
def etl_migrate_duckdb_roundtrip(spark, sf_dir):
    """O1 + W3 + drop_database parity in one path: Migration drops the
    destination database file (``drop_destination=True``, upstream
    ETLAlchemyTarget ≈L20–60), reflects nation+region, standardizes,
    and loads each table through the NATIVE bulk path (an Arrow
    handoff DuckDB reads in place, standardize's stats computed there);
    the loaded nation table is read back as one Arrow table and
    hash-compared against the source — the full
    reflect→transform→bulk-load→verify lifecycle executed, not mocked."""
    import os

    from etlalchemy_spark.queries._util import scratch_dir
    from etlalchemy_spark.sources.bulkload import read_duckdb_table

    db = os.path.join(scratch_dir("migrate_duck", sf_dir), "dest.duckdb")
    mig = Migration(
        source=FileSource(sf_dir, included_tables=["nation", "region"]),
        target=Target(db, fmt="duckdb", dialect="postgresql", mode="error",
                      drop_destination=True),
    )
    mig.run(spark)
    src_schema = t(spark, sf_dir, "nation").schema
    return read_duckdb_table(spark, db, "nation", src_schema).select("n_nationkey", "n_name", "n_regionkey")


_MERGE_SQL = """
WITH base AS (
  SELECT o_orderkey, o_custkey, o_totalprice,
         CAST(year(o_orderdate) AS INT) AS ord_year
  FROM orders
),
touched AS (
  SELECT * FROM base WHERE ord_year IN (1995, 1996)
),
updates AS (
  SELECT o_orderkey, o_custkey, o_totalprice + 50.0 AS o_totalprice, ord_year
  FROM touched WHERE o_orderkey % 13 = 1 AND o_orderkey % 17 <> 2
),
deletes AS (
  SELECT o_orderkey FROM touched WHERE o_orderkey % 17 = 2
),
inserts AS (
  SELECT o_orderkey + 600000000 AS o_orderkey, o_custkey,
         o_totalprice, ord_year
  FROM touched WHERE o_orderkey % 19 = 3
)
SELECT b.o_orderkey, b.o_custkey,
       COALESCE(u.o_totalprice, b.o_totalprice) AS o_totalprice,
       b.ord_year
FROM base b
LEFT JOIN updates u ON b.o_orderkey = u.o_orderkey
WHERE b.o_orderkey NOT IN (SELECT o_orderkey FROM deletes)
UNION ALL
SELECT o_orderkey, o_custkey, o_totalprice, ord_year FROM inserts
"""


@register("etl_merge_upsert", oracle=_MERGE_SQL, tags=("etl",))
def etl_merge_upsert(spark, sf_dir):
    """Lake-side MERGE upsert (operators/merge.py): a parquet target
    partitioned by order year takes a change set confined to the
    1995/1996 partitions — matched-update (+50.0 price), matched-delete,
    not-matched-insert — through the full-outer-join MERGE rewrite with
    DYNAMIC partition overwrite; the measured result is the post-merge
    readback of the whole target. Partitions outside the change set are
    neither read (pruning on the bounded touched-key list) nor
    rewritten (byte-identical files, pinned in tests/test_merge.py).
    DuckDB 1.0.0 predates MERGE INTO (added in 1.4), so the oracle is
    the canonical expansion: base LEFT JOIN updates, NOT IN deletes,
    UNION ALL inserts. Setup rebuilds the base target each invocation so
    the merge is deterministic and the real write path runs every time."""
    from etlalchemy_spark.operators.merge import merge_upsert
    from etlalchemy_spark.queries._util import scratch_dir

    base = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.year("o_orderdate").cast("int").alias("ord_year"),
    )
    target = scratch_dir("merge_upsert", sf_dir) + "/orders_snap"
    base.write.mode("overwrite").partitionBy("ord_year").parquet(target)

    touched = base.where(F.col("ord_year").isin(1995, 1996))
    k = F.col("o_orderkey")
    updates = touched.where((k % 13 == 1) & (k % 17 != 2)).select(
        "o_orderkey", "o_custkey",
        (F.col("o_totalprice") + 50.0).alias("o_totalprice"),
        "ord_year", F.lit("U").alias("op"),
    )
    deletes = touched.where(k % 17 == 2).select(
        "o_orderkey", "o_custkey", "o_totalprice", "ord_year", F.lit("D").alias("op")
    )
    inserts = touched.where(k % 19 == 3).select(
        (k + 600000000).alias("o_orderkey"), "o_custkey",
        "o_totalprice", "ord_year", F.lit("I").alias("op"),
    )
    changes = updates.unionByName(deletes).unionByName(inserts)
    merge_upsert(spark, target, changes, key="o_orderkey", part_col="ord_year")
    return spark.read.parquet(target).select(
        "o_orderkey", "o_custkey", "o_totalprice", F.col("ord_year").cast("int").alias("ord_year")
    )


_CONSTRAINT_SQL = """
SELECT 'orders' AS tbl, 'o_orderkey' AS cols,
       COUNT(*) - COUNT(DISTINCT o_orderkey) AS dup_violations,
       COUNT(*) - COUNT(o_orderkey) AS null_violations,
       COUNT(*) AS n_rows
FROM orders
UNION ALL
SELECT 'lineitem', 'l_orderkey,l_linenumber',
       COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)),
       COUNT(*) - COUNT(CASE WHEN l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL THEN 1 END),
       COUNT(*)
FROM lineitem
UNION ALL
SELECT 'events', 'user_id',
       COUNT(*) - COUNT(DISTINCT user_id),
       COUNT(*) - COUNT(user_id),
       COUNT(*)
FROM events
"""


@register("etl_unique_notnull_audit", oracle=_CONSTRAINT_SQL, tags=("etl", "profile"))
def etl_unique_notnull_audit(spark, sf_dir):
    """Destination-constraint pre-flight — the validation a migration
    runs BEFORE emitting PRIMARY KEY / NOT NULL DDL (reference parity:
    upstream trusts reflected constraints and fails at load time when
    data violates them; here violations are counted up front, the
    data-quality twin of the FK orphan check `etl_fk_integrity`).
    One aggregate per audited table: uniqueness violations =
    rows − distinct(key), null violations = rows − non-null(key).
    Orders/lineitem PKs audit clean; events.user_id (intentionally
    non-unique) shows real violation counts, proving the math. At
    100 TB each check is a single partial+final aggregate — no join,
    no window, no collect."""
    o = t(spark, sf_dir, "orders").agg(
        F.lit("orders").alias("tbl"),
        F.lit("o_orderkey").alias("cols"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("dup_violations"),
        (F.count(F.lit(1)) - F.count("o_orderkey")).alias("null_violations"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    li = t(spark, sf_dir, "lineitem").agg(
        F.lit("lineitem").alias("tbl"),
        F.lit("l_orderkey,l_linenumber").alias("cols"),
        (F.count(F.lit(1)) - F.countDistinct("l_orderkey", "l_linenumber")).alias(
            "dup_violations"
        ),
        (
            F.count(F.lit(1))
            - F.count(
                F.when(
                    F.col("l_orderkey").isNotNull() & F.col("l_linenumber").isNotNull(), 1
                )
            )
        ).alias("null_violations"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    ev = t(spark, sf_dir, "events").agg(
        F.lit("events").alias("tbl"),
        F.lit("user_id").alias("cols"),
        (F.count(F.lit(1)) - F.countDistinct("user_id")).alias("dup_violations"),
        (F.count(F.lit(1)) - F.count("user_id")).alias("null_violations"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return o.unionByName(li).unionByName(ev)


# --- Join-key skew profiler ------------------------------------------------

_SKEW_SQL = " UNION ALL ".join(
    f"""
SELECT key_col, n_rows, n_keys, max_cnt, top_key, skew_ratio,
       CAST(CEIL(skew_ratio) AS INT) AS salt_factor
FROM (
  WITH c AS (SELECT {k} AS k, COUNT(*) AS cnt FROM {tbl} WHERE {k} IS NOT NULL GROUP BY 1),
       s AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows, COUNT(*) AS n_keys,
                    MAX(cnt) AS max_cnt FROM c)
  SELECT '{tbl}.{k}' AS key_col, n_rows, n_keys, max_cnt,
         (SELECT MIN(k) FROM c WHERE cnt = s.max_cnt) AS top_key,
         CAST(max_cnt AS DOUBLE) * n_keys / n_rows AS skew_ratio
  FROM s
)"""
    for tbl, k in [("orders", "o_custkey"), ("lineitem", "l_suppkey"), ("lineitem", "l_partkey")]
)


@register("etl_skew_profile", oracle=_SKEW_SQL, tags=("etl", "profile", "join"))
def etl_skew_profile(spark, sf_dir):
    """Join-key skew profiler — the measurement half of the salted
    skew join (`join_salted_skew`): per candidate join key, one
    map-side-combinable hash aggregate produces the per-key count
    distribution, then a second (tiny, single-row) aggregate reduces
    it to the numbers a planner or operator needs to pick a strategy:
    max/avg frequency ratio (`skew_ratio` — 1.0 means perfectly
    uniform) and the salt factor that would level the hottest key to
    the average (`ceil(skew_ratio)`). `top_key` (smallest key at the
    max, exact tie-break via struct-max) is the key you'd hand to AQE
    skew hints or a broadcast-residual plan. At 100 TB the per-key
    count stage is the same cost as the join's own shuffle-side
    aggregation — run it once, cache the profile, and reuse it across
    every join on that key; or swap the exact counts for the portable
    CMS sketch (`sketch_cms_heavy_hitters`) for a one-pass
    approximation. All arithmetic is integers plus one final double
    division, so the oracle reproduces it bit-exactly."""

    def prof(tbl: str, k: str):
        counts = (
            t(spark, sf_dir, tbl)
            .where(F.col(k).isNotNull())
            .groupBy(F.col(k).alias("k"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        row = counts.agg(
            F.lit(f"{tbl}.{k}").alias("key_col"),
            F.sum("cnt").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("cnt").alias("max_cnt"),
            # struct-max orders by (cnt, -k): highest count, then
            # SMALLEST key — an exact deterministic tie-break.
            F.max(F.struct(F.col("cnt").alias("c"), (-F.col("k")).alias("nk"))).alias("top"),
        )
        return row.select(
            "key_col",
            "n_rows",
            "n_keys",
            "max_cnt",
            (-F.col("top.nk")).alias("top_key"),
            (F.col("max_cnt").cast("double") * F.col("n_keys") / F.col("n_rows")).alias(
                "skew_ratio"
            ),
            F.ceil(
                F.col("max_cnt").cast("double") * F.col("n_keys") / F.col("n_rows")
            ).cast("int").alias("salt_factor"),
        )

    return (
        prof("orders", "o_custkey")
        .unionByName(prof("lineitem", "l_suppkey"))
        .unionByName(prof("lineitem", "l_partkey"))
    )


# --- Declarative expectations: quarantine + violation report --------------

_EXPECT_QUAR_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       concat_ws(',',
         CASE WHEN NOT coalesce(o_totalprice < 400000, FALSE) THEN 'price_under_cap' END,
         CASE WHEN NOT coalesce(o_orderstatus IN ('O','F'), FALSE) THEN 'status_closed_or_open' END,
         CASE WHEN NOT coalesce(o_orderkey % 10 <> 3, FALSE) THEN 'key_not_mod3' END
       ) AS failed_rules
FROM orders
WHERE NOT coalesce(o_totalprice < 400000, FALSE)
   OR NOT coalesce(o_orderstatus IN ('O','F'), FALSE)
   OR NOT coalesce(o_orderkey % 10 <> 3, FALSE)
"""


def _order_rules():
    return [
        ("price_under_cap", F.col("o_totalprice") < 400000),
        ("status_closed_or_open", F.col("o_orderstatus").isin("O", "F")),
        ("key_not_mod3", F.col("o_orderkey") % 10 != 3),
    ]


@register("etl_expectations_quarantine", oracle=_EXPECT_QUAR_SQL, tags=("etl", "profile"))
def etl_expectations_quarantine(spark, sf_dir):
    """Declarative data-quality gates with quarantine routing (the
    dbt-test / Delta-Live-Tables 'expectations' idea; spiritually the
    reference's clean-while-it-moves hooks made declarative): three
    named rules over orders, rows failing ANY rule are routed out
    carrying the comma-joined names of the rules they failed, in
    declaration order — the triage key a steward filters on.
    Expectations evaluating to NULL count as FAILURES by design
    (coalesce(pred, false)); the pure-Column one-scan shape is the
    100 TB story, and the pass/quarantine split feeds the pipeline
    vs. the review queue."""
    from etlalchemy_spark.operators.expectations import split_quarantine

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    _passed, quarantined = split_quarantine(orders, _order_rules())
    return quarantined.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.array_join("_failed_rules", ",").alias("failed_rules"),
    )


_EXPECT_REPORT_SQL = """
SELECT rule, n_violations, n_rows,
       CAST(n_violations AS DOUBLE) / n_rows AS violation_rate
FROM (
  SELECT 'price_under_cap' AS rule,
         COUNT(*) FILTER (WHERE NOT coalesce(o_totalprice < 400000, FALSE)) AS n_violations,
         COUNT(*) AS n_rows FROM orders
  UNION ALL
  SELECT 'status_closed_or_open',
         COUNT(*) FILTER (WHERE NOT coalesce(o_orderstatus IN ('O','F'), FALSE)),
         COUNT(*) FROM orders
  UNION ALL
  SELECT 'key_not_mod3',
         COUNT(*) FILTER (WHERE NOT coalesce(o_orderkey % 10 <> 3, FALSE)),
         COUNT(*) FROM orders
)
"""


@register("etl_expectations_report", oracle=_EXPECT_REPORT_SQL, tags=("etl", "profile"))
def etl_expectations_report(spark, sf_dir):
    """The monitoring face of the same expectations: per-rule violation
    counts and rates computed as N conditional sums in ONE
    partial+final aggregate pass — one exploded row per rule from a
    single aggregated row, never one scan per rule (the report you
    page on when a feed's violation rate jumps)."""
    from etlalchemy_spark.operators.expectations import expectation_report

    return expectation_report(t(spark, sf_dir, "orders"), _order_rules())


_RECON_HASH = """(
    (CAST((u >> 0)  & 255 AS UBIGINT) * 72057594037927936) +
    (CAST((u >> 8)  & 255 AS UBIGINT) * 281474976710656) +
    (CAST((u >> 16) & 255 AS UBIGINT) * 1099511627776) +
    (CAST((u >> 24) & 255 AS UBIGINT) * 4294967296) +
    (CAST((u >> 32) & 255 AS UBIGINT) * 16777216) +
    (CAST((u >> 40) & 255 AS UBIGINT) * 65536) +
    (CAST((u >> 48) & 255 AS UBIGINT) * 256) +
     CAST((u >> 56) & 255 AS UBIGINT)
  ) // 16"""

_RECON_ROW_SQL = """md5_number_upper(
  CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' ||
  o_orderstatus || '|' ||
  CAST(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT) AS VARCHAR)
)"""

_RECON_SQL = f"""
WITH h AS (
  SELECT {_RECON_ROW_SQL} AS u FROM orders
), cs AS (
  SELECT COUNT(*) AS n_rows,
         SUM(CAST({_RECON_HASH} AS HUGEINT)) AS checksum
  FROM h
)
SELECT 'source' AS side, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(checksum AS DOUBLE) AS checksum FROM cs
UNION ALL
SELECT 'destination' AS side, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(checksum AS DOUBLE) AS checksum FROM cs
"""


@register("etl_rowhash_reconciliation", oracle=_RECON_SQL, tags=("etl",))
def etl_rowhash_reconciliation(spark, sf_dir):
    """Migration validation by order-insensitive row checksum — the
    did-every-row-arrive-intact check a source→destination move ends
    with (the reference migrates then trusts; this VERIFIES —
    upstream seanharr11/etlalchemy has no post-load reconciliation at
    all). Each row canonicalizes to integer/string fields (money as
    exact decimal cents — no float formatting in the hash input),
    hashes through the portable 60-bit md5 prefix, and the table
    checksum is the exact DECIMAL(38,0) SUM of row hashes: ADDITIVE,
    so it is order-insensitive, partition-mergeable, and computable
    side-by-side on any engine pair (Spark here, DuckDB oracle; in a
    real migration, source DB and destination DB each run their
    dialect's md5). The destination leg is a REAL parquet round trip
    (write + read back), proving byte fidelity, not expression
    identity. Cost: one scan + one aggregate per side, no shuffle of
    data rows."""
    from etlalchemy_spark.operators.dedup import md5_prefix60
    from etlalchemy_spark.queries._util import scratch_dir

    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    src = t(spark, sf_dir, "orders").select(*cols)

    tmp = scratch_dir("recon", sf_dir) + "/orders_copy"
    src.write.mode("overwrite").parquet(tmp)
    dst = spark.read.parquet(tmp)

    def checksum(df, side):
        row_str = F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
            F.col("o_orderstatus"),
            (F.col("o_totalprice").cast("decimal(18,4)") * 10000)
            .cast("bigint")
            .cast("string"),
        )
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(md5_prefix60(row_str).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .cast("double")
            .alias("checksum"),
        ).select(F.lit(side).alias("side"), "n_rows", "checksum")

    return checksum(src, "source").unionAll(checksum(dst, "destination"))


_PSEUD_U = "md5_number_upper('pseud:' || CAST({key} AS VARCHAR))"

_PSEUD_SQL = f"""
WITH oc AS (
  SELECT {_RECON_HASH.replace("u >>", "uo >>")} AS p
  FROM (SELECT {_PSEUD_U.format(key="o_custkey")} AS uo FROM orders)
), cc AS (
  SELECT {_RECON_HASH.replace("u >>", "uc >>")} AS p
  FROM (SELECT {_PSEUD_U.format(key="c_custkey")} AS uc FROM customer)
), raw AS (
  SELECT COUNT(*) AS n_joined,
         COUNT(DISTINCT o.o_custkey) AS n_keys
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), anon AS (
  SELECT COUNT(*) AS n_joined,
         COUNT(DISTINCT oc.p) AS n_keys
  FROM oc JOIN (SELECT DISTINCT p FROM cc) ccd ON oc.p = ccd.p
)
SELECT 'raw' AS side, CAST(n_joined AS BIGINT) AS n_joined,
       CAST(n_keys AS BIGINT) AS n_distinct_keys FROM raw
UNION ALL
SELECT 'anonymized' AS side, CAST(n_joined AS BIGINT) AS n_joined,
       CAST(n_keys AS BIGINT) AS n_distinct_keys FROM anon
"""


@register("etl_pseudonymize_referential", oracle=_PSEUD_SQL, tags=("etl",))
def etl_pseudonymize_referential(spark, sf_dir):
    """Consistent keyed pseudonymization across tables — the
    share-the-data-not-the-identities ETL step: every custkey maps
    through the salted portable 60-bit hash ('pseud:' as the stand-in
    secret; production swaps in an HMAC key), the SAME function on
    both tables, so referential integrity survives anonymization —
    proven by joining orders to customer ON THE PSEUDONYMS and
    hash-comparing (join cardinality, distinct-key count) against the
    raw-key join. Collision-freedom at fixture scale shows as
    n_distinct_keys equality; at 100 TB, 60 bits give ~N^2/2^61
    collision odds — swap to the full 128-bit md5 when keys approach
    billions (same plan shape). Narrow column maps + one join each
    side; identities never leave the cluster."""
    from etlalchemy_spark.operators.dedup import md5_prefix60

    def pseud(col):
        return md5_prefix60(F.concat(F.lit("pseud:"), F.col(col).cast("string")))

    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")

    raw = (
        o.join(c, o.o_custkey == c.c_custkey)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_joined"),
            F.count_distinct("o_custkey").cast("bigint").alias("n_distinct_keys"),
        )
        .select(F.lit("raw").alias("side"), "n_joined", "n_distinct_keys")
    )
    oa = o.select(pseud("o_custkey").alias("p"))
    ca = c.select(pseud("c_custkey").alias("p")).distinct()
    anon = (
        oa.join(ca, "p")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_joined"),
            F.count_distinct("p").cast("bigint").alias("n_distinct_keys"),
        )
        .select(F.lit("anonymized").alias("side"), "n_joined", "n_distinct_keys")
    )
    return raw.unionAll(anon)


_K_ANON_SQL = """
WITH q AS (
  SELECT c_nationkey,
         c_mktsegment,
         CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 1000.0) AS BIGINT) AS acctbal_band
  FROM customer
), g AS (
  SELECT c_nationkey, c_mktsegment, acctbal_band, COUNT(*) AS n
  FROM q GROUP BY c_nationkey, c_mktsegment, acctbal_band
), tot AS (
  SELECT SUM(n) AS n_total FROM g
)
SELECT g.c_nationkey,
       g.c_mktsegment,
       g.acctbal_band,
       CAST(g.n AS BIGINT) AS n,
       (g.n >= 5) AS meets_k,
       CAST(g.n AS DOUBLE) / CAST(tot.n_total AS BIGINT) AS share
FROM g, tot
"""


@register("etl_k_anonymity_audit", oracle=_K_ANON_SQL, tags=("etl",))
def etl_k_anonymity_audit(spark, sf_dir):
    """k-anonymity audit (k=5) over the quasi-identifier tuple
    (nation, market segment, account-balance band): the pre-release
    privacy gate — every QI equivalence class smaller than k is a
    re-identification risk the publisher must suppress or generalize
    (the rows `meets_k = false` flags ARE the suppression worklist,
    and `share` is the generalization-loss input). Pairs with
    etl_pseudonymize_referential: pseudonymization protects direct
    identifiers, this audits the indirect ones. Banding uses
    FLOOR(exact-double / 1000): the inputs are exact decimal-cent
    magnitudes, so the IEEE division and floor agree bit-for-bit in
    both engines. Shape: one narrow projection + ONE hash aggregate +
    a one-row broadcast total — a single narrow shuffle at any scale,
    and the group state is bounded by the QI domain, not the row
    count."""
    cust = t(spark, sf_dir, "customer")
    q = cust.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal").cast("double") / 1000.0)
        .cast("bigint")
        .alias("acctbal_band"),
    )
    g = q.groupBy("c_nationkey", "c_mktsegment", "acctbal_band").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = g.agg(F.sum("n").alias("n_total"))
    return g.crossJoin(F.broadcast(tot)).select(
        "c_nationkey",
        "c_mktsegment",
        "acctbal_band",
        F.col("n").cast("bigint").alias("n"),
        (F.col("n") >= 5).alias("meets_k"),
        (F.col("n").cast("double") / F.col("n_total").cast("double")).alias("share"),
    )


_INTERVAL_MERGE_SQL = """
WITH iv AS (
  SELECT user_id, event_id,
         epoch_us(CAST(ts AS TIMESTAMP)) AS s,
         epoch_us(CAST(ts AS TIMESTAMP)) + 1800000000 AS e
  FROM events
), f AS (
  SELECT user_id, event_id, s, e,
         CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   IS NULL
              OR s > MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS brk
  FROM iv
), isl AS (
  SELECT user_id, s, e,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY s, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM f
)
SELECT user_id,
       CAST(island AS INT) AS island,
       CAST(MIN(s) AS BIGINT) AS valid_from_us,
       CAST(MAX(e) AS BIGINT) AS valid_to_us,
       CAST(COUNT(*) AS BIGINT) AS n_source_rows
FROM isl
GROUP BY user_id, island
"""


@register("etl_interval_merge_compaction", oracle=_INTERVAL_MERGE_SQL, tags=("etl", "timeseries"))
def etl_interval_merge_compaction(spark, sf_dir):
    """Validity-interval compaction — the SCD housekeeping step that
    collapses overlapping/abutting per-key validity rows (here: each
    event opens a 30-minute span) into maximal disjoint intervals,
    each tagged with how many source rows it absorbed. This is what
    keeps a slowly-changing dimension readable after months of
    micro-updates, and the same sweep powers downtime/uptime
    consolidation. One running-max window ordered within each key
    detects island breaks (new interval <=> start exceeds max end of
    ALL earlier intervals — the O(n) sweep, never the O(n^2) overlap
    self-join), one running sum numbers the islands, one hash
    aggregate emits them. Epoch-microsecond longs end to end;
    event_id tie-breaks pin same-timestamp order in both engines. Key
    cardinality grows with data, so per-key window state stays
    bounded at 100 TB."""
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s"),
        (F.unix_micros(F.col("ts").cast("timestamp")) + 1_800_000_000).alias("e"),
    )
    w_prev = (
        W.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w_run = (
        W.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    prev_max = F.max("e").over(w_prev)
    f = iv.withColumn(
        "brk",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
    )
    isl = f.withColumn("island", F.sum("brk").over(w_run))
    return isl.groupBy("user_id", F.col("island").cast("int").alias("island")).agg(
        F.min("s").cast("bigint").alias("valid_from_us"),
        F.max("e").cast("bigint").alias("valid_to_us"),
        F.count(F.lit(1)).cast("bigint").alias("n_source_rows"),
    )


_COHORT_LTV_SQL = """
WITH firsts AS (
  SELECT o_custkey,
         MIN(epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 2592000000000) AS cohort_m
  FROM orders GROUP BY o_custkey
), facts AS (
  SELECT o.o_custkey,
         f.cohort_m,
         (epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) // 2592000000000) - f.cohort_m
           AS offset_m,
         CAST(CAST(o.o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) AS cents
  FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
), cohort_sizes AS (
  SELECT cohort_m, COUNT(*) AS n_customers FROM firsts GROUP BY cohort_m
), cell AS (
  SELECT cohort_m, offset_m, SUM(cents) AS rev, COUNT(*) AS n_orders
  FROM facts GROUP BY cohort_m, offset_m
), cum AS (
  SELECT cohort_m, offset_m, n_orders,
         SUM(rev) OVER (PARTITION BY cohort_m ORDER BY offset_m
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev
  FROM cell
)
SELECT c.cohort_m AS cohort_month,
       c.offset_m AS months_since_first,
       CAST(s.n_customers AS BIGINT) AS cohort_customers,
       CAST(c.n_orders AS BIGINT) AS n_orders,
       CAST(c.cum_rev AS DOUBLE) / (100.0 * CAST(s.n_customers AS DOUBLE))
         AS cum_ltv_per_customer
FROM cum c JOIN cohort_sizes s ON c.cohort_m = s.cohort_m
WHERE c.offset_m <= 12
"""


@register("etl_cohort_ltv", oracle=_COHORT_LTV_SQL, tags=("etl", "events"))
def etl_cohort_ltv(spark, sf_dir):
    """Cohort lifetime-value matrix: customers cohorted by their FIRST
    order month (epoch 30-day buckets — calendar-free integer month
    arithmetic identical in both engines), each later order assigned a
    month offset, and cumulative revenue per customer unfolded across
    the first year — the (cohort x age) LTV triangle every
    subscription/marketplace finance team lives in, and the payback
    curve experiment arms get compared on. Revenue stays exact integer
    cents through the cumulative window; the per-customer division
    happens once at the end. Shape: one first-order aggregate, one
    fact join back (both keyed on customer), one (cohort, offset) cell
    aggregate, and a cumulative window PARTITIONED BY COHORT over
    offsets (per-cohort state = months, bounded) — cohort count grows
    with time, not data volume, so the matrix is aggregate-sized at
    any scale."""
    from pyspark.sql import Window as W

    o = t(spark, sf_dir, "orders")
    month = (
        F.unix_micros(F.col("o_orderdate").cast("timestamp")) / F.lit(2_592_000_000_000)
    ).cast("long")
    base = o.select(
        "o_custkey",
        month.alias("m"),
        (F.col("o_totalprice").cast("decimal(15,2)") * 100).cast("bigint").alias("cents"),
    )
    firsts = base.groupBy("o_custkey").agg(F.min("m").alias("cohort_m"))
    sizes = firsts.groupBy("cohort_m").agg(F.count(F.lit(1)).alias("n_customers"))
    facts = base.join(firsts, "o_custkey").select(
        "cohort_m", (F.col("m") - F.col("cohort_m")).alias("offset_m"), "cents"
    )
    cell = facts.groupBy("cohort_m", "offset_m").agg(
        F.sum("cents").alias("rev"), F.count(F.lit(1)).alias("n_orders")
    )
    w = (
        W.partitionBy("cohort_m")
        .orderBy("offset_m")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = cell.withColumn("cum_rev", F.sum("rev").over(w))
    return (
        cum.where(F.col("offset_m") <= 12)
        .join(F.broadcast(sizes), "cohort_m")
        .select(
            F.col("cohort_m").alias("cohort_month"),
            F.col("offset_m").alias("months_since_first"),
            F.col("n_customers").cast("bigint").alias("cohort_customers"),
            F.col("n_orders").cast("bigint").alias("n_orders"),
            (
                F.col("cum_rev").cast("double")
                / (100.0 * F.col("n_customers").cast("double"))
            ).alias("cum_ltv_per_customer"),
        )
    )


_SURROGATE_SQL = """
WITH ranked AS (
  SELECT c_custkey, c_name, c_nationkey,
         ROW_NUMBER() OVER (ORDER BY c_custkey) AS sk
  FROM customer
)
SELECT CAST(sk + 1000000 AS BIGINT) AS surrogate_key,
       c_custkey, c_name, c_nationkey
FROM ranked
"""


@register("etl_surrogate_keys", oracle=_SURROGATE_SQL, tags=("etl", "scale"))
def etl_surrogate_keys(spark, sf_dir):
    """Deterministic surrogate-key assignment for a dimension load —
    the warehouse-ETL step upstream's PK/auto-increment repair (D2)
    gestures at, done the only way that is REPRODUCIBLE on a cluster:
    a dense global rank over the business key (+ a 1e6 namespace
    offset), never monotonically_increasing_id (partition-dependent,
    re-runs disagree) and never a sequence (a serialization point).
    The rank rides the range-bucketed prefix path
    (operators/prefix.global_ranks — no single-partition window), so
    assignment parallelizes at any dimension size while two
    independent runs — or two different ENGINES, as the oracle proves
    — mint identical keys."""
    from etlalchemy_spark.operators.prefix import global_ranks

    c = t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    r = global_ranks(c, F.col("c_custkey"), [])
    return r.select(
        (F.col("rn") + 1_000_000).cast("bigint").alias("surrogate_key"),
        "c_custkey",
        "c_name",
        "c_nationkey",
    )


# --- k-anonymity generalization (r9) ---------------------------------------------

_KANON_K = 10

_KANON_GEN_SQL = f"""
WITH q AS (
  SELECT c_custkey, c_mktsegment AS seg,
         CAST(FLOOR(CAST(c_acctbal AS DECIMAL(12,2)) / 100) * 100 AS BIGINT) AS b100,
         CAST(FLOOR(CAST(c_acctbal AS DECIMAL(12,2)) / 1000) * 1000 AS BIGINT) AS b1000
  FROM customer
),
m0 AS (SELECT MIN(n) AS mn FROM (SELECT COUNT(*) AS n FROM q GROUP BY seg, b100)),
m1 AS (SELECT MIN(n) AS mn FROM (SELECT COUNT(*) AS n FROM q GROUP BY seg, b1000)),
m2 AS (SELECT MIN(n) AS mn FROM (SELECT COUNT(*) AS n FROM q GROUP BY b1000)),
lvl AS (
  SELECT CASE WHEN m0.mn >= {_KANON_K} THEN 0
              WHEN m1.mn >= {_KANON_K} THEN 1
              WHEN m2.mn >= {_KANON_K} THEN 2
              ELSE 3 END AS level
  FROM m0, m1, m2
)
SELECT q.c_custkey,
       CASE WHEN lvl.level <= 1 THEN q.seg ELSE '*' END AS gen_segment,
       CASE lvl.level
         WHEN 0 THEN CAST(q.b100 AS VARCHAR)
         WHEN 3 THEN '*'
         ELSE CAST(q.b1000 AS VARCHAR) END AS gen_balance,
       CAST(lvl.level AS BIGINT) AS level
FROM q, lvl
"""


@register("etl_k_anonymity_generalize", oracle=_KANON_GEN_SQL, tags=("etl", "privacy"))
def etl_k_anonymity_generalize(spark, sf_dir):
    """k-anonymity GENERALIZATION (the enforcement step after
    etl_k_anonymity_audit's diagnosis): quasi-identifiers climb a
    deterministic coarsening ladder — (segment, balance÷100) →
    (segment, balance÷1000) → (balance÷1000) → full suppression — and
    the table publishes at the MINIMAL level whose smallest
    equivalence class reaches k={_KANON_K} (global recoding: one level
    for all rows, so the k guarantee is structural — local per-row
    recoding would let rows published at lower levels thin out the
    higher-level classes below k). Level choice is three aggregate-
    sized MIN-of-COUNT scans; the rewrite is a pure projection. At
    100 TB: ladder evaluation is one pass per level over narrow QI
    columns (or one pass with grouping sets), the publish is
    shuffle-free.""".replace("{_KANON_K}", str(_KANON_K))
    c = t(spark, sf_dir, "customer")
    q = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("seg"),
        (F.floor(F.col("c_acctbal").cast("decimal(12,2)") / 100) * 100)
        .cast("bigint")
        .alias("b100"),
        (F.floor(F.col("c_acctbal").cast("decimal(12,2)") / 1000) * 1000)
        .cast("bigint")
        .alias("b1000"),
    )
    mins = []
    for i, cols in enumerate((["seg", "b100"], ["seg", "b1000"], ["b1000"])):
        mn = (
            q.groupBy(*cols)
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.min("n").alias("mn"))
            .collect()[0]["mn"]  # bounded: one row per ladder level
        )
        mins.append(mn)
    if mins[0] >= _KANON_K:
        level = 0
    elif mins[1] >= _KANON_K:
        level = 1
    elif mins[2] >= _KANON_K:
        level = 2
    else:
        level = 3
    gen_seg = F.col("seg") if level <= 1 else F.lit("*")
    if level == 0:
        gen_bal = F.col("b100").cast("string")
    elif level == 3:
        gen_bal = F.lit("*")
    else:
        gen_bal = F.col("b1000").cast("string")
    return q.select(
        "c_custkey",
        gen_seg.alias("gen_segment"),
        gen_bal.alias("gen_balance"),
        F.lit(level).cast("bigint").alias("level"),
    )


# --- Entity resolution pipeline (r9) ----------------------------------------------

_ER_SQL = """
WITH recs AS (
  SELECT c_custkey * 2 AS rec_id, c_name AS name FROM customer
  UNION ALL
  SELECT c_custkey * 2 + 1 AS rec_id,
         substring(c_name, 1, length(c_name) - 1) AS name
  FROM customer WHERE c_custkey % 3 = 0
),
blocked AS (
  SELECT rec_id, name, substring(name, 1, 16) AS blk FROM recs
),
pairs AS (
  SELECT a.rec_id AS src, b.rec_id AS dst
  FROM blocked a JOIN blocked b
    ON a.blk = b.blk AND a.rec_id < b.rec_id
   AND length(a.name) <> length(b.name)
   AND levenshtein(a.name, b.name) <= 1
),
edges AS (
  SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs
),
cc AS (
  WITH RECURSIVE walk(node, reach) AS (
    SELECT src AS node, src AS reach FROM edges
    UNION
    SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.reach
  )
  SELECT node, MIN(reach) AS canonical FROM walk GROUP BY node
)
SELECT r.rec_id, r.name,
       COALESCE(cc.canonical, r.rec_id) AS canonical_id
FROM recs r LEFT JOIN cc ON cc.node = r.rec_id
"""


@register("etl_entity_resolution", oracle=_ER_SQL, tags=("etl", "dedup", "iterative"))
def etl_entity_resolution(spark, sf_dir):
    """End-to-end ENTITY RESOLUTION — the master-data pipeline every
    CRM/customer-360 migration runs, composed from shipped parts:
    dirty records (every third customer gains a truncated-name
    variant), BLOCKING on a 16-char name prefix (candidate pairs are
    generated inside blocks only — linear in block volume, never
    all-pairs: the same discipline as MinHash bands and SemDeDup
    cells), pair scoring with levenshtein ≤ 1 restricted to
    length-mismatched records (the variant signature), then
    connected components (operators/graph.py min-label propagation)
    assign each record the minimum reachable rec_id as its canonical
    entity. The oracle replays blocking + scoring relationally and
    closes the clusters with a recursive CTE. Unmatched records
    canonicalize to themselves. At 100 TB: block key is the shuffle
    key; skewed blocks split under AQE exactly like the salted-join
    row."""
    from etlalchemy_spark.operators.graph import connected_components

    from etlalchemy_spark.catalog import footer_rows

    c = t(spark, sf_dir, "customer")
    orig = c.select(
        (F.col("c_custkey") * 2).alias("rec_id"), F.col("c_name").alias("name")
    )
    variant = c.where(F.col("c_custkey") % 3 == 0).select(
        (F.col("c_custkey") * 2 + 1).alias("rec_id"),
        F.expr("substring(c_name, 1, length(c_name) - 1)").alias("name"),
    )
    recs = orig.unionByName(variant)
    blocked = recs.withColumn("blk", F.substring("name", 1, 16))
    a, b = blocked.alias("a"), blocked.alias("b")
    pairs = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.rec_id") < F.col("b.rec_id"))
        & (F.length(F.col("a.name")) != F.length(F.col("b.name")))
        & (F.levenshtein(F.col("a.name"), F.col("b.name")) <= 1),
    ).select(F.col("a.rec_id").alias("src"), F.col("b.rec_id").alias("dst"))
    cc = connected_components(
        pairs,
        hint_small_labels=((footer_rows(sf_dir, "customer") or 2**62) * 2 <= 2_000_000),
    )
    return recs.join(
        cc.select(F.col("node").alias("rec_id"), F.col("component")),
        "rec_id",
        "left",
    ).select(
        "rec_id",
        "name",
        F.coalesce(F.col("component"), F.col("rec_id")).alias("canonical_id"),
    )


# --- Migration content-checksum manifest (r10) --------------------------------------

# (table, canonical column exprs) — integer/string/decimal(12,2) only:
# doubles and timestamps render differently across engines, so the
# canonical row string sticks to types with one textual image.
_CKSUM_TABLES = [
    ("customer", ["CAST(c_custkey AS STRING)", "c_name",
                  "CAST(c_nationkey AS STRING)",
                  "CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS STRING)"]),
    ("orders", ["CAST(o_orderkey AS STRING)", "CAST(o_custkey AS STRING)",
                "o_orderstatus",
                "CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS STRING)"]),
    ("supplier", ["CAST(s_suppkey AS STRING)", "s_name",
                  "CAST(s_nationkey AS STRING)",
                  "CAST(CAST(s_acctbal AS DECIMAL(12,2)) AS STRING)"]),
    ("nation", ["CAST(n_nationkey AS STRING)", "n_name",
                "CAST(n_regionkey AS STRING)"]),
]


def _cksum_sql() -> str:
    from etlalchemy_spark.queries.sketches import _BE60_FROM_U

    legs = []
    for name, cols in _CKSUM_TABLES:
        row = " || '|' || ".join(cols)
        legs.append(f"""
SELECT '{name}' AS table_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(h) AS VARCHAR) AS content_checksum
FROM (
  SELECT {_BE60_FROM_U} AS h FROM (
    SELECT md5_number_upper('ck:' || {row}) AS u FROM {name}
  )
)""")
    return "\nUNION ALL\n".join(legs)


@register("etl_checksum_manifest", oracle=_cksum_sql(), tags=("etl", "scale"))
def etl_checksum_manifest(spark, sf_dir):
    """Migration content-checksum manifest (r10) — the cheap
    whole-table reconciliation every database migration signs off
    with (upstream etlalchemy prints row counts per table, ≈send_data
    timing report; a count can match while values silently differ):
    per table, an ORDER-INSENSITIVE content checksum = exact sum of
    the portable 60-bit md5 of each row's canonical string, beside
    the row count. Sum-of-hashes is commutative, so source and target
    can each compute their manifest with any partitioning/engine and
    diff two tiny tables — the aggregate-level complement of the
    per-row `etl_rowhash_reconciliation`. Canonical strings use only
    types with one cross-engine textual image (ints, strings,
    decimal(12,2)); the checksum column is emitted as a decimal
    STRING since it outgrows int64. One narrow map + one 2-column
    aggregate per table — scan-speed at any scale."""
    from etlalchemy_spark.operators.dedup import md5_prefix60

    legs = []
    for name, cols in _CKSUM_TABLES:
        df = t(spark, sf_dir, name)
        row = F.expr(" || '|' || ".join(cols))
        legs.append(
            df.select(md5_prefix60(F.concat(F.lit("ck:"), row)).alias("h")).agg(
                F.lit(name).alias("table_name"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum(F.col("h").cast("decimal(38,0)"))
                .cast("decimal(38,0)")
                .cast("string")
                .alias("content_checksum"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out


# --- Late-arriving dimension (r10) -----------------------------------------------------

_LATE_DIM_SQL = """
SELECT c.c_nationkey AS nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN o.o_custkey % 9 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_late_resolved
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_nationkey
"""


@register("etl_late_arriving_dim", oracle=_LATE_DIM_SQL, tags=("etl",))
def etl_late_arriving_dim(spark, sf_dir):
    """Late-arriving dimension handling (r10) — the warehouse pattern
    for facts that land before their dimension row (orders referencing
    a customer the nightly dim load hasn't shipped yet): enrich
    against the CURRENT dim snapshot, mint PLACEHOLDER rows
    (nationkey -1, inferred=true) for unresolved keys instead of
    dropping or stalling the load, then RESOLVE the placeholders when
    the late stripe arrives — only inferred facts re-join, the
    already-resolved majority never reprocesses. Here every ninth
    customer arrives late; the final state must equal the
    join-when-complete baseline (the oracle), with the
    n_late_resolved column proving the placeholder path actually
    carried those facts (zero unresolved rows remain — a lingering
    nationkey -1 group would fail the hash). Both phases are plain
    broadcast-able dim joins; the audit is one hash-agg."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    dim_full = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    dim_v1 = dim_full.where(F.col("c_custkey") % 9 != 0)

    # phase 1: enrich against the incomplete snapshot, mint placeholders
    enriched = o.join(dim_v1, o.o_custkey == dim_v1.c_custkey, "left").select(
        "o_orderkey",
        "o_custkey",
        F.coalesce(F.col("c_nationkey"), F.lit(-1)).alias("nationkey"),
        F.col("c_nationkey").isNull().alias("inferred"),
    )
    resolved = enriched.where(~F.col("inferred"))
    placeholders = enriched.where(F.col("inferred"))

    # phase 2: the late stripe arrives; ONLY placeholders re-join
    late = dim_full.where(F.col("c_custkey") % 9 == 0)
    backfilled = placeholders.join(
        late, placeholders.o_custkey == late.c_custkey, "left"
    ).select(
        "o_orderkey",
        "o_custkey",
        F.coalesce(F.col("c_nationkey"), F.lit(-1)).alias("nationkey"),
        F.lit(True).alias("inferred"),
    )
    final = resolved.unionByName(backfilled)
    return final.groupBy("nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.col("inferred").cast("int")).cast("bigint").alias("n_late_resolved"),
    )


# --- Reconciliation drilldown: find corrupted keys without moving data (r10) ----------

_DRILL_SQL = """
SELECT o_orderkey,
       CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS src_cents,
       CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 + 1 AS BIGINT) AS tgt_cents
FROM orders
WHERE o_orderkey % 7777 = 5
"""


@register("etl_reconciliation_drilldown", oracle=_DRILL_SQL, tags=("etl", "scale"))
def etl_reconciliation_drilldown(spark, sf_dir):
    """Checksum-mismatch drilldown (r10) — what a migration does the
    morning `etl_checksum_manifest` disagrees: find WHICH rows
    diverged without shipping either table anywhere. Phase 1 reduces
    both sides to 64 per-bucket checksum sums (two scans, 64-row
    outputs); phase 2 re-scans ONLY the buckets whose sums differ
    (pushed-down bucket filter — at 100 TB a single corrupted stripe
    means 1/64th of each side re-reads) and anti-compares per-key
    hashes to emit the exact divergent keys with both sides' values.
    The 'target' here is the source with a deterministic corruption
    injected (every 7777th key's price off by one cent); the gate
    proves the drilldown finds exactly those keys — no more, no
    fewer. Sum-of-hashes is order-insensitive, so bucket comparison
    is partition-layout-proof (the manifest-checksum discipline,
    recursively applied)."""
    from etlalchemy_spark.operators.dedup import md5_prefix60

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    cents = (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint")
    src = o.select("o_orderkey", cents.alias("cents"))
    # deterministic injected corruption: every 7777th key off by 1 cent
    tgt = src.select(
        "o_orderkey",
        (F.col("cents") + (F.col("o_orderkey") % 7777 == 5).cast("int")).alias("cents"),
    )

    def bucket_sums(df):
        h = md5_prefix60(
            F.concat(
                F.lit("rk:"),
                F.col("o_orderkey").cast("string"),
                F.lit("|"),
                F.col("cents").cast("string"),
            )
        )
        return df.groupBy((F.col("o_orderkey") % 64).alias("bkt")).agg(
            F.sum(h.cast("decimal(38,0)")).alias("hsum")
        )

    sb = bucket_sums(src).withColumnRenamed("hsum", "src_sum")
    tb = bucket_sums(tgt).withColumnRenamed("hsum", "tgt_sum")
    bad = (
        sb.join(tb, "bkt")
        .where(F.col("src_sum") != F.col("tgt_sum"))
        .select("bkt")
    )
    # phase 2: per-key compare inside the divergent buckets only
    s2 = src.withColumn("bkt", F.col("o_orderkey") % 64).join(
        F.broadcast(bad), "bkt"
    )
    t2 = tgt.withColumn("bkt", F.col("o_orderkey") % 64).join(
        F.broadcast(bad), "bkt"
    ).select("o_orderkey", F.col("cents").alias("tgt_cents"))
    return (
        s2.join(t2, "o_orderkey")
        .where(F.col("cents") != F.col("tgt_cents"))
        .select(
            "o_orderkey",
            F.col("cents").cast("bigint").alias("src_cents"),
            F.col("tgt_cents").cast("bigint").alias("tgt_cents"),
        )
    )


# --- Data Vault 2.0 load (r11) -----------------------------------------------------------

_DV_LOAD_SQL = """
WITH hub_customer AS (
  SELECT DISTINCT sha256(CAST(c_custkey AS VARCHAR)) AS hk FROM customer
),
hub_order AS (
  SELECT DISTINCT sha256(CAST(o_orderkey AS VARCHAR)) AS hk FROM orders
),
link_co AS (
  SELECT DISTINCT sha256(CAST(o_custkey AS VARCHAR) || '|'
                         || CAST(o_orderkey AS VARCHAR)) AS hk
  FROM orders
),
sat_order AS (
  SELECT sha256(CAST(o_orderkey AS VARCHAR)) AS hk,
         sha256(o_orderstatus || '|'
                || CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                        AS BIGINT) AS VARCHAR)
                || '|' || CAST(CAST(o_orderdate AS DATE) AS VARCHAR)
                || '|' || o_orderpriority) AS hashdiff
  FROM orders
),
audit AS (
  SELECT 'hub_customer' AS vault_table, COUNT(*) AS n_rows,
         COUNT(DISTINCT hk) AS n_distinct, MIN(hk) AS min_hash,
         MAX(hk) AS max_hash
  FROM hub_customer
  UNION ALL
  SELECT 'hub_order', COUNT(*), COUNT(DISTINCT hk), MIN(hk), MAX(hk)
  FROM hub_order
  UNION ALL
  SELECT 'link_customer_order', COUNT(*), COUNT(DISTINCT hk), MIN(hk), MAX(hk)
  FROM link_co
  UNION ALL
  SELECT 'sat_order', COUNT(*), COUNT(DISTINCT hashdiff), MIN(hashdiff),
         MAX(hashdiff)
  FROM sat_order
)
SELECT vault_table, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_distinct AS BIGINT) AS n_distinct, min_hash, max_hash
FROM audit ORDER BY vault_table
"""


@register("etl_data_vault_load", oracle=_DV_LOAD_SQL, tags=("etl", "bench"))
def etl_data_vault_load(spark, sf_dir):
    """Data Vault 2.0 raw-vault load from the staged source — the
    warehouse-modeling pattern upstream etlalchemy migrations feed
    (hash-keyed hubs/links/satellites make loads idempotent,
    parallel and auditable): hub_customer/hub_order carry
    sha256(business key), link_customer_order the relationship hash,
    sat_order the attribute HASHDIFF (change detection for free).
    Hash inputs are canonicalized to dialect-free strings — integer
    cents for money (decimal renderings differ), ISO dates — so the
    keys are engine-portable; the audit emits per-table row/distinct
    counts plus min/max hash (hex is ASCII, so string order is
    byte order in both engines). Each vault table is one projection +
    hash in the scan stage; hubs dedupe with one hash-agg. At 100 TB
    hash keys co-partition hubs/links/sats for join-free increments."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    hub_c = c.select(
        F.sha2(F.col("c_custkey").cast("string"), 256).alias("hk")
    ).distinct()
    hub_o = o.select(
        F.sha2(F.col("o_orderkey").cast("string"), 256).alias("hk")
    ).distinct()
    link = o.select(
        F.sha2(
            F.concat_ws(
                "|",
                F.col("o_custkey").cast("string"),
                F.col("o_orderkey").cast("string"),
            ),
            256,
        ).alias("hk")
    ).distinct()
    sat = o.select(
        F.sha2(F.col("o_orderkey").cast("string"), 256).alias("hk"),
        F.sha2(
            F.concat_ws(
                "|",
                F.col("o_orderstatus"),
                (F.col("o_totalprice").cast("decimal(12,2)") * 100)
                .cast("bigint").cast("string"),
                F.col("o_orderdate").cast("date").cast("string"),
                F.col("o_orderpriority"),
            ),
            256,
        ).alias("hashdiff"),
    )

    def audit(df, name, col):
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct(col).cast("bigint").alias("n_distinct"),
            F.min(col).alias("min_hash"),
            F.max(col).alias("max_hash"),
        ).select(F.lit(name).alias("vault_table"), "*")

    return (
        audit(hub_c, "hub_customer", "hk")
        .unionAll(audit(hub_o, "hub_order", "hk"))
        .unionAll(audit(link, "link_customer_order", "hk"))
        .unionAll(audit(sat, "sat_order", "hashdiff"))
        .orderBy("vault_table")
    )
