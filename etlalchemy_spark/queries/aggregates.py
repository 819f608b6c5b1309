"""Aggregation coverage: hash agg, distinct, count-distinct, approx,
rollup / cube / grouping sets, pivot, bucketed histograms.

SURVEY.md §2 Table B rows "Hash/sort aggregation", "Distinct /
count-distinct / approx", "Grouping sets / rollup / cube". All
Catalyst-native: partial (map-side) + final aggregation with a single
shuffle on the group keys.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etlalchemy_spark.registry import register
from etlalchemy_spark.catalog import load_tables
from etlalchemy_spark.queries._special import (
    SqlStages,
    chi2_pvalue_stages,
    f_pvalue_stages,
    t_pvalue_stages,
)
from etlalchemy_spark.queries._util import cut, dec, t

_BASIC_SQL = """
SELECT
  o_orderstatus,
  COUNT(*) AS n_orders,
  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4) AS DOUBLE) AS total_price,
  MIN(o_totalprice) AS min_price,
  MAX(o_totalprice) AS max_price,
  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4) AS DOUBLE)
    / CAST(COUNT(o_totalprice) AS DOUBLE) AS avg_price
FROM orders GROUP BY o_orderstatus
"""


@register("agg_basic", oracle=_BASIC_SQL, tags=("agg",))
def agg_basic(spark, sf_dir):
    """Single-key hash agg with the five standard aggregates.
    MIN/MAX on raw doubles are order-insensitive and need no decimal."""
    orders = t(spark, sf_dir, "orders")
    price = dec("o_totalprice")
    return orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(price).cast("decimal(38,4)").cast("double").alias("total_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        (
            F.sum(price).cast("decimal(38,4)").cast("double")
            / F.count("o_totalprice").cast("double")
        ).alias("avg_price"),
    )


_DISTINCT_SQL = """
SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
"""


@register("agg_distinct", oracle=_DISTINCT_SQL, tags=("agg",))
def agg_distinct(spark, sf_dir):
    """DISTINCT = group-by-all-columns; map-side partial dedup first."""
    return t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


_CNTDIST_SQL = """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps,
       COUNT(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
"""


@register("agg_count_distinct", oracle=_CNTDIST_SQL, tags=("agg",))
def agg_count_distinct(spark, sf_dir):
    """Multiple exact count-distincts → Catalyst plans an expand +
    two-phase agg; still one logical pass over the fact table."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


_ACD_RSD = 0.02
_ACD_BOUND = 4 * _ACD_RSD  # |approx-exact|/exact ≤ 4×rsd (measured ~1% here)

_ACD_SQL = f"""
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       COUNT(*) AS n_rows,
       TRUE AS within_bound
FROM lineitem
GROUP BY l_returnflag
"""


@register("agg_approx_count_distinct", oracle=_ACD_SQL, tags=("agg", "approx"))
def agg_approx_count_distinct(spark, sf_dir):
    """HyperLogLog++ distinct estimate, BOUNDED-ERROR gated (r12
    verdict #4): the sketch value itself is engine-internal so it can
    never hash-match DuckDB, but the semantic claim CAN — this query
    emits the exact distinct count (both engines agree) plus a
    ``within_bound`` flag asserting |approx − exact| ≤ 4×rsd·exact
    (rsd 0.02; the estimator is deterministic for fixed data, so the
    flag is stable, and a broken sketch flips it to false → oracle
    hash mismatch). At 100 TB the approx path replaces exact
    count-distinct: no expand, mergeable partial sketches, O(1)
    memory per group."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", _ACD_RSD).alias("_approx"),
            F.countDistinct("l_partkey").alias("exact_parts"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            "n_rows",
            (
                F.abs(F.col("_approx") - F.col("exact_parts")).cast("double")
                <= F.lit(_ACD_BOUND) * F.col("exact_parts").cast("double")
            ).alias("within_bound"),
        )
    )


_ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 4) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@register("agg_rollup", oracle=_ROLLUP_SQL, tags=("agg",))
def agg_rollup(spark, sf_dir):
    """ROLLUP: hierarchical subtotals (flag, flag+status, grand total)."""
    return (
        t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("l_quantity")).cast("decimal(38,4)").cast("double").alias("sum_qty"),
        )
    )


_CUBE_SQL = """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 4) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


@register("agg_cube", oracle=_CUBE_SQL, tags=("agg",))
def agg_cube(spark, sf_dir):
    """CUBE: all 2^k grouping-key subsets in one pass (Expand operator)."""
    return (
        t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("l_quantity")).cast("decimal(38,4)").cast("double").alias("sum_qty"),
        )
    )


_GSETS_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
"""


@register("agg_grouping_sets", oracle=_GSETS_SQL, tags=("agg",))
def agg_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS via the SQL API (same Catalyst Expand)."""
    load_tables(spark, sf_dir, names=["orders"])
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


_PIVOT_SQL = """
SELECT l_returnflag,
  CAST(ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,4)) END), 4) AS DOUBLE) AS O,
  CAST(ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,4)) END), 4) AS DOUBLE) AS F
FROM lineitem GROUP BY l_returnflag
"""


@register("agg_pivot", oracle=_PIVOT_SQL, tags=("agg",))
def agg_pivot(spark, sf_dir):
    """Pivot with an explicit value list (never let Spark scan for
    distinct pivot values at scale — pass them)."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(dec("l_quantity")).cast("decimal(38,4)").cast("double"))
    )


_HIST_SQL = """
SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bucket,
       COUNT(*) AS n,
       MIN(o_totalprice) AS lo,
       MAX(o_totalprice) AS hi
FROM orders GROUP BY 1
"""


@register("agg_histogram", oracle=_HIST_SQL, tags=("agg",))
def agg_histogram(spark, sf_dir):
    """Fixed-width bucketed histogram (floor-div bucketing; exact)."""
    orders = t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.floor(F.col("o_totalprice") / 50000).cast("bigint").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


_GK_ACC = 10000  # percentile_approx accuracy → rank error ε = 1/accuracy
_GK_PCTS = (0.5, 0.9, 0.99)

_AQ_SQL = """
SELECT o_orderstatus,
       COUNT(*) AS n,
       TRUE AS ok50, TRUE AS ok90, TRUE AS ok99
FROM orders
GROUP BY o_orderstatus
"""


@register("agg_approx_quantiles", oracle=_AQ_SQL, tags=("agg", "approx"))
def agg_approx_quantiles(spark, sf_dir):
    """Greenwald-Khanna approximate percentiles, BOUNDED-ERROR gated
    (r12 verdict #4): the sketch value can't hash-match another
    engine, but the GK guarantee CAN be checked exactly — for each
    returned value v the rank window [count(<v)+1, count(<=v)] must
    intersect [p·n − ε·n − 1, p·n + ε·n + 1] (ε = 1/accuracy). The
    flags are computed from EXACT counts via one join of the 3-row
    quantile table back against orders, so a sketch whose error
    exceeded its contract flips a flag and fails the oracle hash.
    Values may legally wiggle with merge order; the flags cannot.
    At 100 TB: one pass, mergeable sketches, no sort."""
    o = t(spark, sf_dir, "orders")
    q = o.groupBy("o_orderstatus").agg(
        F.percentile_approx("o_totalprice", list(_GK_PCTS), _GK_ACC).alias("pcts")
    )
    j = o.select("o_orderstatus", "o_totalprice").join(
        F.broadcast(q), "o_orderstatus"
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    for i in range(len(_GK_PCTS)):
        v = F.col("pcts")[i]
        aggs.append(
            F.sum((F.col("o_totalprice") < v).cast("long")).alias(f"_lt{i}")
        )
        aggs.append(
            F.sum((F.col("o_totalprice") <= v).cast("long")).alias(f"_le{i}")
        )
    g = j.groupBy("o_orderstatus").agg(*aggs)
    cols = [F.col("o_orderstatus"), F.col("n")]
    names = ("ok50", "ok90", "ok99")
    for i, p in enumerate(_GK_PCTS):
        target = F.lit(p) * F.col("n").cast("double")
        slack = F.lit(1.0 / _GK_ACC) * F.col("n").cast("double") + F.lit(1.0)
        ok = (F.col(f"_le{i}").cast("double") >= target - slack) & (
            (F.col(f"_lt{i}") + F.lit(1)).cast("double") <= target + slack
        )
        cols.append(ok.alias(names[i]))
    return g.select(*cols)


_SALTED_AGG_SQL = """
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 4) AS DOUBLE) AS sum_qty,
       CAST(ROUND(MAX(CAST(l_extendedprice AS DECIMAL(18,4))), 4) AS DOUBLE) AS max_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_salted_two_phase", oracle=_SALTED_AGG_SQL, tags=("agg", "skew"))
def agg_salted_two_phase(spark, sf_dir):
    """Skew-proof aggregation over a 3-key group column (worst-case hot
    keys): salt → partial agg → exact final reduce. Salt-invariant, so
    the oracle is the plain GROUP BY. At 100 TB this caps any single
    reducer at 1/n of a hot key's rows."""
    from etlalchemy_spark.operators.skew import salted_aggregate

    li = t(spark, sf_dir, "lineitem")
    out = salted_aggregate(
        li.select("l_returnflag", "l_quantity", "l_extendedprice"),
        keys=["l_returnflag"],
        partial={
            "c": F.count(F.lit(1)),
            "s": F.sum(dec("l_quantity")),
            "m": F.max(dec("l_extendedprice")),
        },
        final={
            "n_rows": F.sum("c"),
            "sum_qty": F.sum("s").cast("decimal(38,4)").cast("double"),
            "max_price": F.max("m").cast("decimal(38,4)").cast("double"),
        },
        n=16,
    )
    return out.orderBy("l_returnflag")


_COVAR_SQL = """
SELECT l_returnflag,
       (CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(14,2))), 4) AS DOUBLE)
        - CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 4) AS DOUBLE)
          * CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(14,2))), 4) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE))
       / CAST(COUNT(*) AS DOUBLE) AS covar_qty_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_covariance_exact", oracle=_COVAR_SQL, tags=("agg", "stats"))
def agg_covariance_exact(spark, sf_dir):
    """Population covariance via the sums identity with exact decimal
    reductions — the built-in covar_pop accumulates doubles in shuffle
    order (not cross-engine reproducible); this formulation is, at the
    cost of the (well-conditioned) E[XY]-E[X]E[Y] identity."""
    li = t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("decimal(12,2)")
    p = F.col("l_extendedprice").cast("decimal(14,2)")
    n = F.count(F.lit(1)).cast("double")
    sxy = F.sum(q * p).cast("decimal(38,4)").cast("double")
    sx = F.sum(q).cast("decimal(38,4)").cast("double")
    sy = F.sum(p).cast("decimal(38,4)").cast("double")
    return (
        li.groupBy("l_returnflag")
        .agg(((sxy - sx * sy / n) / n).alias("covar_qty_price"))
        .orderBy("l_returnflag")
    )


_ARGMAX_SQL = """
SELECT o_orderstatus,
       arg_max(o_orderkey, o_totalprice) AS biggest_order,
       arg_min(o_orderkey, o_totalprice) AS smallest_order,
       count_if(o_totalprice > 100000) AS n_large,
       bool_and(o_totalprice > 0) AS all_positive,
       bool_or(o_orderpriority = '1-URGENT') AS any_urgent
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@register("agg_argminmax", oracle=_ARGMAX_SQL, tags=("agg",))
def agg_argminmax(spark, sf_dir):
    """max_by/min_by (arg-extremum without a join-back or window),
    count_if, bool_and/bool_or. o_totalprice is unique per status group
    in the fixture, so the arg extremum is deterministic."""
    orders = t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.max_by("o_orderkey", "o_totalprice").alias("biggest_order"),
            F.min_by("o_orderkey", "o_totalprice").alias("smallest_order"),
            F.count_if(F.col("o_totalprice") > 100000).alias("n_large"),
            F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
            F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
        )
        .orderBy("o_orderstatus")
    )


_STRAGG_SQL = """
SELECT n_regionkey,
       string_agg(n_name, ',' ORDER BY n_name) AS nations,
       COUNT(*) AS n
FROM nation
GROUP BY n_regionkey
ORDER BY n_regionkey
"""


@register("agg_string_concat_ordered", oracle=_STRAGG_SQL, tags=("agg",))
def agg_string_concat_ordered(spark, sf_dir):
    """Ordered string aggregation: collect_list is shuffle-order-
    nondeterministic, so sort the array before joining — the only
    listagg formulation that is reproducible at scale."""
    nation = t(spark, sf_dir, "nation")
    return (
        nation.groupBy("n_regionkey")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("n_regionkey")
    )


_REGR_SQL = """
SELECT l_returnflag,
       (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
       (sy - sx * (n * sxy - sx * sy) / (n * sxx - sx * sx)) / n AS intercept
FROM (
  SELECT l_returnflag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 4) AS DOUBLE) AS sx,
         CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(14,2))), 4) AS DOUBLE) AS sy,
         CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))), 4) AS DOUBLE) AS sxx,
         CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(14,2))), 4) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
ORDER BY l_returnflag
"""


@register("agg_regression_exact", oracle=_REGR_SQL, tags=("agg", "stats"))
def agg_regression_exact(spark, sf_dir):
    """OLS slope/intercept of price vs quantity per return flag via the
    normal-equation sums in exact decimal (regr_slope/regr_intercept
    accumulate doubles in shuffle order — not reproducible)."""
    li = t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("decimal(12,2)")
    p = F.col("l_extendedprice").cast("decimal(14,2)")
    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(q).cast("decimal(38,4)").cast("double").alias("sx"),
        F.sum(p).cast("decimal(38,4)").cast("double").alias("sy"),
        F.sum(q * q).cast("decimal(38,4)").cast("double").alias("sxx"),
        F.sum(q * p).cast("decimal(38,4)").cast("double").alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - F.col("sx") * slope) / F.col("n")
    return sums.select(
        "l_returnflag", slope.alias("slope"), intercept.alias("intercept")
    ).orderBy("l_returnflag")


_BITWISE_SQL = """
SELECT event_type,
       bit_and(event_id) AS ids_and,
       bit_or(event_id) AS ids_or,
       bit_xor(event_id) AS ids_xor
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("agg_bitwise", oracle=_BITWISE_SQL, tags=("agg",))
def agg_bitwise(spark, sf_dir):
    """Bitwise reductions (and/or/xor) — exact, associative,
    commutative: safe under any shuffle order."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.bit_and("event_id").alias("ids_and"),
            F.bit_or("event_id").alias("ids_or"),
            F.bit_xor("event_id").alias("ids_xor"),
        )
        .orderBy("event_type")
    )


_GROUPING_SQL = """
SELECT COALESCE(o_orderstatus, '(all)') AS status,
       COALESCE(o_orderpriority, '(all)') AS priority,
       GROUPING(o_orderstatus) + 2 * GROUPING(o_orderpriority) AS gid,
       COUNT(*) AS n
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY gid, status, priority
"""


@register("agg_grouping_id", oracle=_GROUPING_SQL, tags=("agg", "rollup"))
def agg_grouping_id(spark, sf_dir):
    """ROLLUP with GROUPING() markers: subtotal rows are identified by
    the grouping bits, not by NULL-vs-'(all)' guesswork — the only safe
    way to consume rollups whose group keys can themselves be NULL."""
    orders = t(spark, sf_dir, "orders")
    gid = (
        F.grouping("o_orderstatus") + F.lit(2) * F.grouping("o_orderpriority")
    ).cast("bigint")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(gid.alias("gid"), F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
            "gid",
            "n",
        )
        .orderBy("gid", "status", "priority")
    )


_MODE_SQL = """
SELECT l_returnflag, l_quantity AS mode_qty, cnt AS mode_cnt FROM (
  SELECT l_returnflag, l_quantity, COUNT(*) AS cnt,
         ROW_NUMBER() OVER (
           PARTITION BY l_returnflag ORDER BY COUNT(*) DESC, l_quantity ASC
         ) AS rn
  FROM lineitem GROUP BY l_returnflag, l_quantity
) WHERE rn = 1
"""


@register("agg_mode_exact", oracle=_MODE_SQL, tags=("agg",))
def agg_mode_exact(spark, sf_dir):
    """Exact per-group mode (most frequent l_quantity per return flag,
    lowest value on ties): count-then-rank — two shuffles, both
    partial-aggregated map-side; the rank window partitions by group
    so no global sort appears at any scale."""
    from pyspark.sql import Window as W

    li = t(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = W.partitionBy("l_returnflag").orderBy(F.desc("cnt"), F.asc("l_quantity"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("l_quantity").alias("mode_qty"),
            F.col("cnt").alias("mode_cnt"),
        )
    )


_GINI_SQL = """
WITH c AS (
  SELECT o_orderpriority, o_orderstatus, COUNT(*) AS cnt
  FROM orders GROUP BY 1, 2
)
SELECT o_orderpriority,
       CAST(SUM(cnt) * SUM(cnt) - SUM(cnt * cnt) AS DOUBLE)
         / CAST(SUM(cnt) * SUM(cnt) AS DOUBLE) AS gini
FROM c GROUP BY o_orderpriority
"""


@register("agg_gini_impurity", oracle=_GINI_SQL, tags=("agg",))
def agg_gini_impurity(spark, sf_dir):
    """Gini impurity of the order-status mix per priority:
    1 - sum(p_i^2) computed as (n^2 - sum(c^2)) / n^2 — pure integer
    cross-multiplication and ONE double division, so the float result
    is identical everywhere (no per-class p_i roundings to
    accumulate). Two cascading hash aggregates, both map-side
    partial."""
    o = t(spark, sf_dir, "orders")
    c = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    n = F.sum("cnt")
    s2 = F.sum(F.col("cnt") * F.col("cnt"))
    return c.groupBy("o_orderpriority").agg(
        ((n * n - s2).cast("double") / (n * n).cast("double")).alias("gini")
    )


_CORR_SQL = """
SELECT l_returnflag,
       (CAST(CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(14,2))), 4) AS VARCHAR) AS DOUBLE)
        - CAST(CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 4) AS VARCHAR) AS DOUBLE)
          * CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(14,2))), 4) AS VARCHAR) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE))
       / (sqrt(CAST(CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))), 4) AS VARCHAR) AS DOUBLE)
               - CAST(CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 4) AS VARCHAR) AS DOUBLE)
                 * CAST(CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 4) AS VARCHAR) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE))
          * sqrt(CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(l_extendedprice AS DECIMAL(14,2))), 4) AS VARCHAR) AS DOUBLE)
                 - CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(14,2))), 4) AS VARCHAR) AS DOUBLE)
                   * CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(14,2))), 4) AS VARCHAR) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE))) AS corr_qty_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_corr_exact", oracle=_CORR_SQL, tags=("agg", "stats"))
def agg_corr_exact(spark, sf_dir):
    """Pearson correlation per group, cross-engine exact: all five
    reductions (sx, sy, sxy, sx2, sy2) are exact decimal sums; the
    closing chain is correctly-rounded IEEE ops only (mul/div/sub and
    sqrt, which IEEE 754 requires exact) — the built-in corr()
    accumulates doubles in shuffle order and is not reproducible.
    The oracle converts its decimal sums to double THROUGH VARCHAR:
    DuckDB's native int128-decimal→double cast is not correctly
    rounded (one ulp off for some values beyond 2^53 — caught at
    sf0.001 in r9), while its string parse is, matching the JVM's
    one-step BigDecimal cast at any magnitude.
    One shuffle on the group key, partial+final like any hash agg."""
    li = t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("decimal(12,2)")
    p = F.col("l_extendedprice").cast("decimal(14,2)")
    n = F.count(F.lit(1)).cast("double")
    d = lambda c: F.sum(c).cast("decimal(38,4)").cast("double")  # noqa: E731
    sxy, sx, sy, sx2, sy2 = d(q * p), d(q), d(p), d(q * q), d(p * p)
    corr = (sxy - sx * sy / n) / (
        F.sqrt(sx2 - sx * sx / n) * F.sqrt(sy2 - sy * sy / n)
    )
    return (
        li.groupBy("l_returnflag")
        .agg(corr.alias("corr_qty_price"))
        .orderBy("l_returnflag")
    )


_SKEW_SQL = """
WITH s AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 4) AS DOUBLE) AS sx,
         CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))), 4) AS DOUBLE) AS sx2,
         CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))), 4) AS DOUBLE) AS sx3
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       sqrt(n) * (sx3 - 3 * sx2 * sx / n + 2 * sx * sx * sx / (n * n))
         / ((sx2 - sx * sx / n) * sqrt(sx2 - sx * sx / n)) AS skew_qty
FROM s
ORDER BY l_returnflag
"""


@register("agg_skewness_exact", oracle=_SKEW_SQL, tags=("agg", "stats"))
def agg_skewness_exact(spark, sf_dir):
    """Population skewness, cross-engine exact: the three moment sums
    are exact decimal reductions (scale grows 2→4→6 through the
    powers, well inside decimal38); the closing chain uses only
    correctly-rounded IEEE ops — x^1.5 is spelled x*sqrt(x) because
    pow() carries no cross-platform rounding guarantee but sqrt does.
    Same single-shuffle two-phase hash agg as any groupBy."""
    li = t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("decimal(12,2)")
    d = lambda c: F.sum(c).cast("decimal(38,4)").cast("double")  # noqa: E731
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        d(q).alias("sx"),
        d(q * q).alias("sx2"),
        d(q * q * q).alias("sx3"),
    )
    n, sx, sx2, sx3 = F.col("n"), F.col("sx"), F.col("sx2"), F.col("sx3")
    m3 = sx3 - F.lit(3) * sx2 * sx / n + F.lit(2) * sx * sx * sx / (n * n)
    m2 = sx2 - sx * sx / n
    return s.select(
        "l_returnflag",
        (F.sqrt(n) * m3 / (m2 * F.sqrt(m2))).alias("skew_qty"),
    ).orderBy("l_returnflag")


_MAD_SQL = """
WITH med AS (
  SELECT user_id, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY user_id
),
dev AS (
  SELECT e.user_id, e.value, m.med, abs(e.value - m.med) AS dev
  FROM events e JOIN med m ON e.user_id = m.user_id
),
mad AS (
  SELECT user_id, quantile_cont(dev, 0.5) AS mad
  FROM dev GROUP BY user_id
)
SELECT d.user_id,
       MIN(d.med) AS med,
       MIN(a.mad) AS mad,
       COUNT(CASE WHEN abs(0.6745 * (d.value - d.med) / a.mad) > 3.5 THEN 1 END) AS n_outliers
FROM dev d JOIN mad a ON d.user_id = a.user_id
GROUP BY d.user_id
"""


@register("agg_mad_robust", oracle=_MAD_SQL, tags=("agg", "stats"))
def agg_mad_robust(spark, sf_dir):
    """Robust anomaly stats per user: median, median-absolute-deviation
    and the count of modified-z outliers (|0.6745*(x-med)/mad| > 3.5)
    — the robust twin of ts_zscore_anomaly that heavy tails can't
    skew. Exact interpolated percentiles in both engines; every later
    op (abs/sub/mul/div/compare) is correctly-rounded IEEE on identical
    operands. Both aggregations and the join share the user_id
    partitioning, so the whole thing is two co-partitioned shuffles."""
    ev = t(spark, sf_dir, "events")
    med = ev.groupBy("user_id").agg(F.percentile("value", F.lit(0.5)).alias("med"))
    dev = ev.join(med, "user_id").select(
        "user_id", "value", "med", F.abs(F.col("value") - F.col("med")).alias("dev")
    )
    mad = dev.groupBy("user_id").agg(F.percentile("dev", F.lit(0.5)).alias("mad"))
    z = F.abs(F.lit(0.6745) * (F.col("value") - F.col("med")) / F.col("mad"))
    return (
        dev.join(mad, "user_id")
        .groupBy("user_id")
        .agg(
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            F.count(F.when(z > 3.5, 1)).alias("n_outliers"),
        )
    )


_WAVG_SQL = """
SELECT l_returnflag,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(l_quantity AS DECIMAL(12,2))), 4) AS DOUBLE)
         / CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 4) AS DOUBLE) AS wavg_price
FROM lineitem GROUP BY l_returnflag
"""


@register("agg_weighted_avg_exact", oracle=_WAVG_SQL, tags=("agg",))
def agg_weighted_avg_exact(spark, sf_dir):
    """Quantity-weighted mean price: two exact decimal sums, one double
    divide — same shuffle profile as any grouped agg."""
    li = t(spark, sf_dir, "lineitem")
    p = F.col("l_extendedprice").cast("decimal(14,2)")
    q = F.col("l_quantity").cast("decimal(12,2)")
    return li.groupBy("l_returnflag").agg(
        (
            F.sum(p * q).cast("decimal(38,4)").cast("double")
            / F.sum(q).cast("decimal(38,4)").cast("double")
        ).alias("wavg_price")
    )


_CHI2_BASE_SQL = """
WITH obs AS (
  SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY lang, source
),
rt AS (SELECT lang, SUM(o) AS row_tot FROM obs GROUP BY lang),
ct AS (SELECT source, SUM(o) AS col_tot FROM obs GROUP BY source),
n AS (SELECT SUM(o) AS total FROM obs),
cells AS (
  SELECT obs.lang, obs.source, o,
         CAST(row_tot * col_tot AS DOUBLE) / CAST(total AS DOUBLE) AS e
  FROM obs JOIN rt ON obs.lang = rt.lang
           JOIN ct ON obs.source = ct.source
           CROSS JOIN n
)
SELECT CAST(ROUND(SUM(CAST((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e AS DECIMAL(24,10))), 10) AS DOUBLE) AS chi2,
       COUNT(*) AS n_cells,
       COUNT(DISTINCT lang) AS n_rows,
       COUNT(DISTINCT source) AS n_cols,
       CAST((COUNT(DISTINCT lang) - 1) * (COUNT(DISTINCT source) - 1) AS BIGINT) AS dof
FROM cells
"""

_CHI2_ST, _ = chi2_pvalue_stages("chi2", "dof")
_CHI2_SQL = _CHI2_ST.duckdb_sql(
    _CHI2_BASE_SQL,
    "SELECT chi2, n_cells, n_rows, n_cols, dof, p_value",
)


@register("agg_chi2_independence", oracle=_CHI2_SQL, tags=("agg", "stats"))
def agg_chi2_independence(spark, sf_dir):
    """Chi-square independence statistic for lang x source (are
    document sources language-skewed?): observed cell counts vs
    expected row*col/n. Each cell's term is computed in double on
    exact integer inputs (identical IEEE ops), then quantized to
    decimal BEFORE the final reduction so the cross-cell sum is
    order-insensitive. Since r11 also emits the table dof
    (r-1)(c-1) and the upper-tail p-value Q(dof/2, chi2/2) from the
    shared staged IEEE incomplete-gamma (queries/_special.py:
    fixed-depth lower series / Legendre CF) — hash-exact across
    engines. Three small aggregates + one broadcast-sized join back
    onto the cells."""
    d = t(spark, sf_dir, "documents")
    obs = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    rt = obs.groupBy("lang").agg(F.sum("o").alias("row_tot"))
    ct = obs.groupBy("source").agg(F.sum("o").alias("col_tot"))
    n = obs.agg(F.sum("o").alias("total"))
    cells = (
        obs.join(rt, "lang")
        .join(ct, "source")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "e",
            (F.col("row_tot") * F.col("col_tot")).cast("double") / F.col("total").cast("double"),
        )
    )
    od = F.col("o").cast("double")
    term = ((od - F.col("e")) * (od - F.col("e")) / F.col("e")).cast("decimal(24,10)")
    base = cells.agg(
        F.sum(term).cast("decimal(38,10)").cast("double").alias("chi2"),
        F.count(F.lit(1)).alias("n_cells"),
        F.countDistinct("lang").alias("n_rows"),
        F.countDistinct("source").alias("n_cols"),
    ).select(
        "chi2", "n_cells", "n_rows", "n_cols",
        ((F.col("n_rows") - 1) * (F.col("n_cols") - 1)).cast("bigint").alias("dof"),
    )
    # barrier (one row) + shared IEEE chi-square tail (_special.py)
    return _CHI2_ST.apply_spark(base.repartition(1)).select(
        "chi2", "n_cells", "n_rows", "n_cols", "dof", "p_value"
    )



_FILTER_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n_all,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
       COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_large,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
            FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS finished_total
FROM orders
GROUP BY o_orderpriority
"""


@register("agg_filter_clause", oracle=_FILTER_SQL, tags=("agg",))
def agg_filter_clause(spark, sf_dir):
    """ANSI aggregate FILTER clause — several conditional aggregates
    in ONE partial+final hash-agg pass (the pattern that otherwise
    multiplies into N self-joins or N CASE pyramids); the SQL text is
    shared verbatim with DuckDB. Each filtered sum keeps the decimal
    reduction, so the oracle is exact."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("_filter_orders")
    return spark.sql(_FILTER_SQL.replace("FROM orders", "FROM _filter_orders"))


_WINSOR_SQL = """
WITH r AS (
  SELECT o_orderstatus,
         CAST(o_totalprice AS DECIMAL(18,4)) AS v,
         ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                            ORDER BY o_totalprice, o_orderkey) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
  FROM orders
), k AS (
  SELECT o_orderstatus, v, rn, n,
         GREATEST(1, (5 * n + 99) // 100) AS lo_k,
         n + 1 - GREATEST(1, (5 * n + 99) // 100) AS hi_k
  FROM r
), g AS (
  SELECT o_orderstatus,
         MAX(n) AS n,
         MAX(lo_k) AS lo_k,
         SUM(CASE WHEN rn >= lo_k AND rn <= hi_k THEN v END) AS sum_mid,
         MAX(CASE WHEN rn = lo_k THEN v END) AS lo_v,
         MAX(CASE WHEN rn = hi_k THEN v END) AS hi_v
  FROM k GROUP BY o_orderstatus
)
SELECT o_orderstatus,
       CAST(n AS BIGINT) AS n,
       CAST(lo_v AS DOUBLE) AS lo_cut,
       CAST(hi_v AS DOUBLE) AS hi_cut,
       CAST(CAST(ROUND(
         (sum_mid + (lo_k - 1) * lo_v + (lo_k - 1) * hi_v) / n, 4
       ) AS DECIMAL(38,4)) AS DOUBLE) AS winsorized_mean
FROM g
"""


@register("agg_winsorized_mean", oracle=_WINSOR_SQL, tags=("agg",))
def agg_winsorized_mean(spark, sf_dir):
    """5%-winsorized mean of order totals per status — the robust
    location estimate a quality pipeline uses when raw means are
    outlier-dominated. Order statistics, not interpolation: the cut
    points are the lo_k-th / hi_k-th actual values (lo_k = ceil(0.05n)
    by pure integer arithmetic), so every term stays in exact decimal
    and even the mean hash-matches. One window pass for ranks, then a
    SINGLE hash aggregate computes the trimmed sum AND both cut values
    via conditional aggregates — the tail contributions are
    reconstructed as (lo_k-1)*cut instead of a second pass or a
    bounds-join. Scales as one shuffle on the group key plus the rank
    window; group count never matters."""
    from pyspark.sql import Window as W

    o = t(spark, sf_dir, "orders")
    w_rn = W.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    w_n = W.partitionBy("o_orderstatus")
    ranked = (
        o.select(
            "o_orderstatus",
            dec("o_totalprice").alias("v"),
            F.row_number().over(w_rn).alias("rn"),
            F.count(F.lit(1)).over(w_n).alias("n"),
        )
        .withColumn("lo_k", F.floor((5 * F.col("n") + 99) / F.lit(100)))
        .withColumn("lo_k", F.greatest(F.lit(1).cast("long"), F.col("lo_k")))
        .withColumn("hi_k", F.col("n") + 1 - F.col("lo_k"))
    )
    g = ranked.groupBy("o_orderstatus").agg(
        F.max("n").alias("n"),
        F.max("lo_k").alias("lo_k"),
        F.sum(
            F.when((F.col("rn") >= F.col("lo_k")) & (F.col("rn") <= F.col("hi_k")), F.col("v"))
        ).alias("sum_mid"),
        F.max(F.when(F.col("rn") == F.col("lo_k"), F.col("v"))).alias("lo_v"),
        F.max(F.when(F.col("rn") == F.col("hi_k"), F.col("v"))).alias("hi_v"),
    )
    tails = (F.col("lo_k") - 1) * F.col("lo_v") + (F.col("lo_k") - 1) * F.col("hi_v")
    return g.select(
        "o_orderstatus",
        F.col("n").cast("bigint").alias("n"),
        F.col("lo_v").cast("double").alias("lo_cut"),
        F.col("hi_v").cast("double").alias("hi_cut"),
        F.round((F.col("sum_mid") + tails) / F.col("n"), 4)
        .cast("decimal(38,4)")
        .cast("double")
        .alias("winsorized_mean"),
    )


# Benford first-digit probabilities log10(1 + 1/d) as shared literals:
# embedding the SAME double constants in both engines sidesteps any
# libm log10() ulp differences.
_BENFORD_P = {
    1: 0.3010299956639812,
    2: 0.17609125905568124,
    3: 0.12493873660829993,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}

# DuckDB's string->double parse is NOT correctly rounded for every
# literal (0.12493873660829993 lands one ulp off), so each probability
# is emitted as its exact rational num/2^k: both operands are exact
# doubles and the division is a single correctly-rounded IEEE op.
def _exact_double_sql(p: float) -> str:
    num, den = p.as_integer_ratio()
    return f"(CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE))"


_BENFORD_CASE_SQL = "CASE digit " + " ".join(
    f"WHEN {d} THEN {_exact_double_sql(p)}" for d, p in _BENFORD_P.items()
) + " END"

_BENFORD_SQL = f"""
WITH d AS (
  SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT)
                          AS VARCHAR), 1, 1) AS INTEGER) AS digit
  FROM orders WHERE o_totalprice > 0
), obs AS (
  SELECT digit, COUNT(*) AS observed FROM d GROUP BY digit
), tot AS (SELECT SUM(observed) AS n FROM obs)
SELECT obs.digit,
       CAST(obs.observed AS BIGINT) AS observed,
       CAST(tot.n AS DOUBLE) * ({_BENFORD_CASE_SQL}) AS expected,
       CAST(obs.observed AS DOUBLE)
         - CAST(tot.n AS DOUBLE) * ({_BENFORD_CASE_SQL}) AS delta
FROM obs, tot
"""


@register("agg_benford_audit", oracle=_BENFORD_SQL, tags=("agg", "etl"))
def agg_benford_audit(spark, sf_dir):
    """Benford's-law first-digit audit over order totals — the
    fraud/synthetic-data smell test a profiling pass runs on every
    monetary column. The leading digit is extracted through exact
    decimal->bigint->string conversion (no log10 on data), the
    expected counts use shared literal probabilities, and the delta is
    one float multiply+subtract on identical operands — all nine rows
    hash-match the oracle. One hash aggregate over a 9-value key: the
    map-side partials collapse to 9 rows per task regardless of input
    size."""
    digit = F.substring(
        (dec("o_totalprice") * 10000).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    obs = (
        t(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("observed"))
    )
    tot = obs.agg(F.sum("observed").alias("n"))
    p_expr = F.element_at(
        F.create_map(*[F.lit(x) for d, p in _BENFORD_P.items() for x in (d, p)]),
        F.col("digit"),
    )
    return obs.crossJoin(F.broadcast(tot)).select(
        "digit",
        F.col("observed").cast("bigint").alias("observed"),
        (F.col("n").cast("double") * p_expr).alias("expected"),
        (
            F.col("observed").cast("double") - F.col("n").cast("double") * p_expr
        ).alias("delta"),
    )


_GINI_SQL = """
WITH rev AS (
  SELECT o_custkey,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT)) AS BIGINT) AS xc
  FROM orders GROUP BY o_custkey
), r AS (
  SELECT xc, ROW_NUMBER() OVER (ORDER BY xc, o_custkey) AS rn FROM rev
), s AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(xc AS HUGEINT)) AS s0,
         SUM(CAST(rn AS HUGEINT) * CAST(xc AS HUGEINT)) AS s1
  FROM r
)
SELECT CAST(n AS BIGINT) AS n_customers,
       (2.0 * CAST(s1 AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(s0 AS DOUBLE))
         - (CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE)) AS gini
FROM s
"""


@register("agg_gini_concentration", oracle=_GINI_SQL, tags=("agg",))
def agg_gini_concentration(spark, sf_dir):
    """Gini coefficient of per-customer revenue — the concentration
    number a pipeline owner reads before deciding source mixing or
    per-key budget caps (and the skew early-warning for every
    downstream groupBy on the key). Computed by the rank formula
    G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over the ascending revenue
    order: ranks come from the range-bucketed two-phase prefix path
    (operators/prefix.global_ranks — no single-partition window),
    revenue is exact integer cents, and both moment sums accumulate in
    DECIMAL(38,0)/HUGEINT — so the only float ops are the final
    divisions on identical operands. One shuffle for the per-customer
    rollup, one for the rank bucketing, one aggregate."""
    from etlalchemy_spark.operators.prefix import global_ranks

    rev = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum((dec("o_totalprice") * 10000).cast("bigint"))
            .cast("bigint")
            .alias("xc")
        )
    )
    ranked = global_ranks(rev, F.col("xc"), ["o_custkey"])
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("xc").cast("decimal(38,0)")).cast("decimal(38,0)").alias("s0"),
        F.sum(F.col("rn").cast("decimal(19,0)") * F.col("xc").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("s1"),
    )
    nd = F.col("n").cast("double")
    return s.select(
        F.col("n").cast("bigint").alias("n_customers"),
        (
            (F.lit(2.0) * F.col("s1").cast("double")) / (nd * F.col("s0").cast("double"))
            - ((F.col("n") + 1).cast("double") / nd)
        ).alias("gini"),
    )


_KS_A = "l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'"
_KS_B = "l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'"

_KS_SQL = f"""
WITH v AS (
  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 10000 AS BIGINT) AS vc,
         CASE WHEN {_KS_A} THEN 1 ELSE 0 END AS in_a
  FROM lineitem
  WHERE ({_KS_A}) OR ({_KS_B})
), per_val AS (
  SELECT vc, SUM(in_a) AS a, SUM(1 - in_a) AS b FROM v GROUP BY vc
), cum AS (
  SELECT vc,
         SUM(a) OVER (ORDER BY vc ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
         SUM(b) OVER (ORDER BY vc ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
  FROM per_val
), tot AS (
  SELECT SUM(a) AS n1, SUM(b) AS n2 FROM per_val
), d AS (
  SELECT cum.vc,
         ABS(CAST(tot.n2 AS HUGEINT) * CAST(cum.ca AS HUGEINT)
             - CAST(tot.n1 AS HUGEINT) * CAST(cum.cb AS HUGEINT)) AS d_scaled,
         tot.n1, tot.n2
  FROM cum, tot
)
SELECT CAST(vc AS DOUBLE) / 10000.0 AS at_price,
       CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       CAST(d_scaled AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS ks_stat
FROM d
ORDER BY d_scaled DESC, vc
LIMIT 1
"""


@register("agg_ks_drift_test", oracle=_KS_SQL, tags=("agg", "timeseries"))
def agg_ks_drift_test(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov drift test between 1996 and 1997
    price distributions — the did-the-distribution-shift gate a feed
    monitor runs between corpus snapshots or feature versions. The
    statistic sup|ECDF₁−ECDF₂| is computed SCALED: at each distinct
    value, |n₂·cum₁ − n₁·cum₂| is pure integer arithmetic (values as
    exact decimal cents), so the argmax is exact and only the final
    normalization divides. Both cumulative counts run over ONE global
    order via the multi-value scalable prefix pass
    (operators/prefix.running_global_sums — one bucket window carries
    both ECDFs, no single-partition WindowExec, no double upstream
    execution); per-distinct-value pre-aggregation means the ordered
    pass touches distinct prices, not rows. Earliest-value tie-break;
    TakeOrderedAndProject top-1."""
    from etlalchemy_spark.operators.prefix import running_global_sums

    li = t(spark, sf_dir, "lineitem")
    a_lo, a_hi = "1996-01-01 00:00:00", "1997-01-01 00:00:00"
    b_hi = "1998-01-01 00:00:00"
    sd = F.col("l_shipdate").cast("timestamp")
    in_a = (sd >= F.lit(a_lo).cast("timestamp")) & (sd < F.lit(a_hi).cast("timestamp"))
    in_b = (sd >= F.lit(a_hi).cast("timestamp")) & (sd < F.lit(b_hi).cast("timestamp"))
    v = li.where(in_a | in_b).select(
        (dec("l_extendedprice") * 10000).cast("bigint").alias("vc"),
        F.when(in_a, 1).otherwise(0).alias("in_a"),
    )
    per_val = v.groupBy("vc").agg(
        F.sum("in_a").alias("a"), F.sum(1 - F.col("in_a")).alias("b")
    )
    cum = running_global_sums(
        per_val,
        F.col("vc"),
        [],
        [
            (F.col("a").cast("decimal(18,0)"), "ca"),
            (F.col("b").cast("decimal(18,0)"), "cb"),
        ],
    )
    tot = per_val.agg(F.sum("a").alias("n1"), F.sum("b").alias("n2"))
    d = cum.crossJoin(F.broadcast(tot)).select(
        "vc",
        F.abs(
            F.col("n2").cast("decimal(19,0)") * F.col("ca").cast("decimal(19,0)")
            - F.col("n1").cast("decimal(19,0)") * F.col("cb").cast("decimal(19,0)")
        ).alias("d_scaled"),
        "n1",
        "n2",
    )
    return (
        d.orderBy(F.desc("d_scaled"), "vc")
        .limit(1)
        .select(
            (F.col("vc").cast("double") / F.lit(10000.0)).alias("at_price"),
            F.col("n1").cast("bigint").alias("n1"),
            F.col("n2").cast("bigint").alias("n2"),
            (
                F.col("d_scaled").cast("double")
                / (F.col("n1").cast("double") * F.col("n2").cast("double"))
            ).alias("ks_stat"),
        )
    )


_WEIGHTED_MEDIAN_SQL = """
WITH x AS (
  SELECT l_suppkey,
         CAST(l_extendedprice AS DECIMAL(12,2)) AS v,
         CAST(l_quantity AS BIGINT) AS w,
         l_orderkey, l_linenumber
  FROM lineitem
), c AS (
  SELECT l_suppkey, v, w,
         SUM(w) OVER (PARTITION BY l_suppkey
                      ORDER BY v, l_orderkey, l_linenumber
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(w) OVER (PARTITION BY l_suppkey) AS tot
  FROM x
)
SELECT l_suppkey,
       CAST(MIN(v) AS DOUBLE) AS weighted_median_price,
       CAST(MIN(tot) AS BIGINT) AS total_qty
FROM c
WHERE 2 * cum >= tot
GROUP BY l_suppkey
"""


@register("agg_weighted_median", oracle=_WEIGHTED_MEDIAN_SQL, tags=("agg",))
def agg_weighted_median(spark, sf_dir):
    """Exact WEIGHTED median (lower median: smallest value whose
    cumulative weight reaches half the total) of line price per
    supplier, weighted by quantity — the robust per-entity price
    summary a mean can't give under outliers and a plain median can't
    give under varying line sizes. Formulated entirely in exact
    arithmetic: values as DECIMAL(12,2) (double->decimal conversion
    rounds identically in both engines), weights and cumulative sums
    as BIGINT, the threshold test as the integer cross-product
    ``2*cum >= tot`` — no float quantile interpolation to drift.
    Shape: ONE window pass partitioned by supplier + one hash
    aggregate. The group key's cardinality GROWS with the data
    (suppliers, not a 3-value flag), so per-group window state stays
    bounded at 100 TB — the same reason window_topk_per_group is safe;
    a global weighted median would instead ride the range-bucketed
    prefix pass (operators/prefix.py)."""
    from pyspark.sql import Window as W

    li = t(spark, sf_dir, "lineitem")
    x = li.select(
        "l_suppkey",
        F.col("l_extendedprice").cast("decimal(12,2)").alias("v"),
        F.col("l_quantity").cast("bigint").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    wc = (
        W.partitionBy("l_suppkey")
        .orderBy("v", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wt = W.partitionBy("l_suppkey")
    c = x.select(
        "l_suppkey",
        "v",
        F.sum("w").over(wc).alias("cum"),
        F.sum("w").over(wt).alias("tot"),
    )
    return (
        c.where(2 * F.col("cum") >= F.col("tot"))
        .groupBy("l_suppkey")
        .agg(
            F.min("v").cast("double").alias("weighted_median_price"),
            F.min("tot").cast("bigint").alias("total_qty"),
        )
    )


_WILSON_SQL = """
WITH g AS (
  SELECT event_type,
         COUNT(*) AS n,
         SUM(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS k
  FROM events GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n,
       CAST(k AS BIGINT) AS k,
       CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p_hat,
       ((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) + 1.96 * 1.96 / (2.0 * CAST(n AS DOUBLE))
        - 1.96 * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                      * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
                      + 1.96 * 1.96 / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
         / (1.0 + 1.96 * 1.96 / CAST(n AS DOUBLE)) AS wilson_lo,
       ((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) + 1.96 * 1.96 / (2.0 * CAST(n AS DOUBLE))
        + 1.96 * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                      * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
                      + 1.96 * 1.96 / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
         / (1.0 + 1.96 * 1.96 / CAST(n AS DOUBLE)) AS wilson_hi
FROM g
"""


@register("agg_wilson_interval", oracle=_WILSON_SQL, tags=("agg", "events"))
def agg_wilson_interval(spark, sf_dir):
    """Wilson 95% score interval for a per-group proportion (share of
    events with value > 50 per event type) — the CI that stays inside
    [0,1] and behaves at small n / extreme p, i.e. the number an
    experiment dashboard should print instead of the +-1.96*sqrt(pq/n)
    Wald interval. Float discipline: the only inputs are the two exact
    longs (k, n); every derived term (p_hat, z^2 corrections, the sqrt)
    is the SAME expression tree of correctly-rounded IEEE ops on both
    engines (z = 1.96 as an exact shared literal, never z^2 = 3.8416
    precomputed — the engines' literal parses could differ), so lo/hi
    hash-match. Shape: ONE hash aggregate; interval math is per-group
    scalar arithmetic in codegen. Group-key cardinality (event types)
    is domain-bounded — at 100 TB this is the canonical map-side
    partial aggregate."""
    ev = t(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("value") > 50, 1).otherwise(0)).alias("k"),
    )
    nd = F.col("n").cast("double")
    p = F.col("k").cast("double") / nd
    z = F.lit(1.96)
    center = p + z * z / (2.0 * nd)
    margin = z * F.sqrt(p * (1.0 - p) / nd + z * z / (4.0 * nd * nd))
    denom = 1.0 + z * z / nd
    return g.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("k").cast("bigint").alias("k"),
        p.alias("p_hat"),
        ((center - margin) / denom).alias("wilson_lo"),
        ((center + margin) / denom).alias("wilson_hi"),
    )


_WELCH_BASE_SQL = """
WITH x AS (
  SELECT CASE WHEN o_orderdate < TIMESTAMP '1998-07-01 00:00:00' THEN 'pre' ELSE 'post' END AS era,
         CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) AS cents
  FROM orders
), m AS (
  SELECT era, COUNT(*) AS n, SUM(cents) AS s,
         SUM(CAST(cents AS HUGEINT) * cents) AS q
  FROM x GROUP BY era
), w AS (
  SELECT
    (SELECT n FROM m WHERE era = 'pre') AS n1,
    (SELECT s FROM m WHERE era = 'pre') AS s1,
    (SELECT q FROM m WHERE era = 'pre') AS q1,
    (SELECT n FROM m WHERE era = 'post') AS n2,
    (SELECT s FROM m WHERE era = 'post') AS s2,
    (SELECT q FROM m WHERE era = 'post') AS q2
)
SELECT CAST(n1 AS BIGINT) AS n_pre,
       CAST(n2 AS BIGINT) AS n_post,
       CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0 AS mean_pre,
       CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) / 100.0 AS mean_post,
       (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
         / sqrt(
             (CAST(CAST(n1 AS HUGEINT) * q1 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
                / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE)))
             + (CAST(CAST(n2 AS HUGEINT) * q2 - CAST(s2 AS HUGEINT) * s2 AS DOUBLE)
                / (CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE) * CAST(n2 - 1 AS DOUBLE)))
           ) AS t_stat,
       (
         (CAST(CAST(n1 AS HUGEINT) * q1 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
            / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE)))
         + (CAST(CAST(n2 AS HUGEINT) * q2 - CAST(s2 AS HUGEINT) * s2 AS DOUBLE)
            / (CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE) * CAST(n2 - 1 AS DOUBLE)))
       ) * (
         (CAST(CAST(n1 AS HUGEINT) * q1 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
            / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE)))
         + (CAST(CAST(n2 AS HUGEINT) * q2 - CAST(s2 AS HUGEINT) * s2 AS DOUBLE)
            / (CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE) * CAST(n2 - 1 AS DOUBLE)))
       ) / (
         (CAST(CAST(n1 AS HUGEINT) * q1 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
            / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE)))
         * (CAST(CAST(n1 AS HUGEINT) * q1 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
            / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE)))
         / CAST(n1 - 1 AS DOUBLE)
         + (CAST(CAST(n2 AS HUGEINT) * q2 - CAST(s2 AS HUGEINT) * s2 AS DOUBLE)
            / (CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE) * CAST(n2 - 1 AS DOUBLE)))
         * (CAST(CAST(n2 AS HUGEINT) * q2 - CAST(s2 AS HUGEINT) * s2 AS DOUBLE)
            / (CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE) * CAST(n2 - 1 AS DOUBLE)))
         / CAST(n2 - 1 AS DOUBLE)
       ) AS welch_dof
FROM w
"""

_WELCH_ST, _ = t_pvalue_stages("t_stat", "welch_dof")
_WELCH_SQL = _WELCH_ST.duckdb_sql(
    _WELCH_BASE_SQL,
    "SELECT n_pre, n_post, mean_pre, mean_post, t_stat, welch_dof, p_value",
)


@register("agg_welch_ttest", oracle=_WELCH_SQL, tags=("agg",))
def agg_welch_ttest(spark, sf_dir):
    """Welch's two-sample t-test (unequal variances) comparing order
    totals before/after mid-1998 — the "did the metric actually move?"
    gate between two corpus snapshots / experiment arms / pipeline
    versions. Sufficient statistics only: each group reduces to the
    exact integer triple (n, sum-of-cents, sum-of-squared-cents); the
    t statistic and the Welch-Satterthwaite dof are then one shared
    IEEE expression tree over those longs — both floats hash-match.
    Since r11 the two-sided p-value ships too: the regularized
    incomplete beta I_{v/(v+t^2)}(v/2, 1/2) built entirely from
    identically-rounded IEEE ops (queries/_special.py — staged ln/
    exp/Lanczos-lgamma + fixed-depth continued fraction), so even the
    p-value hash-matches bit-for-bit; accuracy ~5e-9 relative at
    dof ~ 2e5 (lgamma cancellation floor), ~1e-12 below dof 1e3.
    Shape: one map-side-partial aggregate to TWO rows, then a
    broadcast one-row pivot and a one-row stage chain — nothing else
    moves, so the test costs one scan at any scale."""
    o = t(spark, sf_dir, "orders")
    x = o.select(
        F.when(F.col("o_orderdate") < F.lit("1998-07-01 00:00:00").cast("timestamp"), "pre")
        .otherwise("post")
        .alias("era"),
        (F.col("o_totalprice").cast("decimal(15,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    m = x.groupBy("era").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(
            F.col("cents").cast("decimal(19,0)") * F.col("cents").cast("decimal(19,0)")
        ).alias("q"),
    )
    pre = m.where(F.col("era") == "pre").select(
        F.col("n").alias("n1"), F.col("s").alias("s1"), F.col("q").alias("q1")
    )
    post = m.where(F.col("era") == "post").select(
        F.col("n").alias("n2"), F.col("s").alias("s2"), F.col("q").alias("q2")
    )
    w = pre.crossJoin(F.broadcast(post))

    def sem2(n, s, q):
        nd = F.col(n).cast("double")
        num = (
            F.col(n).cast("decimal(10,0)") * F.col(q)
            - F.col(s).cast("decimal(19,0)") * F.col(s).cast("decimal(19,0)")
        ).cast("double")
        return num / (nd * nd * (F.col(n) - 1).cast("double"))

    v1, v2 = sem2("n1", "s1", "q1"), sem2("n2", "s2", "q2")
    mean1 = F.col("s1").cast("double") / F.col("n1").cast("double")
    mean2 = F.col("s2").cast("double") / F.col("n2").cast("double")
    base = w.select(
        F.col("n1").cast("bigint").alias("n_pre"),
        F.col("n2").cast("bigint").alias("n_post"),
        (mean1 / 100.0).alias("mean_pre"),
        (mean2 / 100.0).alias("mean_post"),
        ((mean1 - mean2) / F.sqrt(v1 + v2)).alias("t_stat"),
        (
            (v1 + v2) * (v1 + v2)
            / (
                v1 * v1 / (F.col("n1") - 1).cast("double")
                + v2 * v2 / (F.col("n2") - 1).cast("double")
            )
        ).alias("welch_dof"),
    )
    # exchange barrier (one row) so the p-value stage chain cannot be
    # collapse-inlined into the t/dof derivations, then the shared
    # IEEE stage pipeline (queries/_special.py)
    return _WELCH_ST.apply_spark(base.repartition(1)).select(
        "n_pre", "n_post", "mean_pre", "mean_post", "t_stat", "welch_dof",
        "p_value",
    )


_HHI_SQL = """
WITH x AS (
  SELECT s_nationkey,
         l_suppkey,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS rev
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY s_nationkey, l_suppkey
), n AS (
  SELECT s_nationkey,
         SUM(rev) AS tot,
         SUM(CAST(rev AS HUGEINT) * rev) AS sq,
         COUNT(*) AS n_suppliers
  FROM x GROUP BY s_nationkey
)
SELECT s_nationkey,
       CAST(n_suppliers AS BIGINT) AS n_suppliers,
       CAST(sq AS DOUBLE) / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)) AS hhi,
       (10000 * CAST(sq AS HUGEINT) > 2500 * CAST(tot AS HUGEINT) * tot)
         AS concentrated
FROM n
"""


@register("agg_hhi_concentration", oracle=_HHI_SQL, tags=("agg",))
def agg_hhi_concentration(spark, sf_dir):
    """Herfindahl-Hirschman concentration index of supplier revenue
    within each nation — HHI = sum(share^2) = sum(x^2)/(sum(x))^2, the
    antitrust-style "is this market/source/shard dominated by a few
    keys?" number (pairs with agg_gini_concentration: Gini measures
    inequality, HHI measures dominance). All moments are exact
    integers (revenue in cents, squares in HUGEINT/decimal), the HHI
    one final division; the DOJ 0.25 threshold is tested by exact
    integer cross-multiplication (10000*sq > 2500*tot^2), not a float
    compare. Shape: two hash aggregates (supplier rollup, then nation
    moments) — the second runs on supplier-level state, already
    aggregate-sized."""
    li = t(spark, sf_dir, "lineitem")
    su = t(spark, sf_dir, "supplier")
    x = (
        li.join(su, li.l_suppkey == su.s_suppkey)
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice").cast("decimal(12,2)") * 100).cast("bigint")
            ).alias("rev")
        )
    )
    n = x.groupBy("s_nationkey").agg(
        F.sum("rev").alias("tot"),
        F.sum(
            F.col("rev").cast("decimal(19,0)") * F.col("rev").cast("decimal(19,0)")
        ).alias("sq"),
        F.count(F.lit(1)).alias("n_suppliers"),
    )
    return n.select(
        "s_nationkey",
        F.col("n_suppliers").cast("bigint").alias("n_suppliers"),
        (
            F.col("sq").cast("double")
            / (F.col("tot").cast("double") * F.col("tot").cast("double"))
        ).alias("hhi"),
        (
            10000 * F.col("sq")
            > 2500 * F.col("tot").cast("decimal(19,0)") * F.col("tot").cast("decimal(19,0)")
        ).alias("concentrated"),
    )


_EB_RATE_SQL = """
WITH per AS (
  SELECT l_suppkey,
         COUNT(*) AS n,
         SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS k
  FROM lineitem GROUP BY l_suppkey
), g AS (
  SELECT SUM(n) AS big_n, SUM(k) AS big_k FROM per
)
SELECT per.l_suppkey,
       CAST(per.n AS BIGINT) AS n,
       CAST(per.k AS BIGINT) AS k,
       CAST(per.k AS DOUBLE) / CAST(per.n AS DOUBLE) AS raw_rate,
       (CAST(per.k AS DOUBLE)
        + 50.0 * (CAST(g.big_k AS DOUBLE) / CAST(g.big_n AS DOUBLE)))
         / (CAST(per.n AS DOUBLE) + 50.0) AS smoothed_rate
FROM per, g
"""


@register("agg_eb_smoothed_rate", oracle=_EB_RATE_SQL, tags=("agg",))
def agg_eb_smoothed_rate(spark, sf_dir):
    """Empirical-Bayes smoothed rate (beta-binomial shrinkage,
    pseudo-count m=50): per-supplier return rate pulled toward the
    global rate — the fix for the universal small-n ranking bug where
    a 1-for-1 supplier "beats" a 490-for-10000 one. smoothed =
    (k + m*p0)/(n + m) with p0 the corpus rate; ranking by this column
    is the production answer for review queues, seller scores, and
    source-quality ordering. Inputs are four exact longs (k, n, K, N);
    the smoothing is one shared IEEE expression tree — hash-exact.
    Shape: one per-key hash aggregate + a one-row global broadcast;
    the global prior is FREE (re-aggregated from per-key state, no
    second scan)."""
    li = t(spark, sf_dir, "lineitem")
    per = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("k"),
    )
    g = per.agg(F.sum("n").alias("big_n"), F.sum("k").alias("big_k"))
    p0 = F.col("big_k").cast("double") / F.col("big_n").cast("double")
    return per.crossJoin(F.broadcast(g)).select(
        "l_suppkey",
        F.col("n").cast("bigint").alias("n"),
        F.col("k").cast("bigint").alias("k"),
        (F.col("k").cast("double") / F.col("n").cast("double")).alias("raw_rate"),
        (
            (F.col("k").cast("double") + 50.0 * p0)
            / (F.col("n").cast("double") + 50.0)
        ).alias("smoothed_rate"),
    )


_LOG2_HIST_SQL = """
WITH x AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) AS cents
  FROM orders
), b AS (
  SELECT LENGTH(BIN(cents)) - 1 AS bucket FROM x WHERE cents > 0
)
SELECT CAST(bucket AS INT) AS log2_bucket,
       CAST(POW(2.0, bucket) / 100.0 AS DOUBLE) AS bucket_floor,
       CAST(COUNT(*) AS BIGINT) AS n
FROM b GROUP BY bucket
"""


@register("agg_log2_histogram", oracle=_LOG2_HIST_SQL, tags=("agg",))
def agg_log2_histogram(spark, sf_dir):
    """Order-of-magnitude (power-of-two) histogram of order values —
    the latency/size/value distribution shape every ops dashboard
    uses (hdr-histogram's coarsest tier): exponentially wider buckets
    summarize ranges spanning many decades in a handful of rows, and
    the bucket state is mergeable across partitions/days by plain
    addition. The bucket index floor(log2(cents)) is computed EXACTLY
    as LENGTH(BIN(cents))-1 — integer bit-length, not float log2()
    (libm log2 near an exact power of two can round to either side;
    bit length cannot). bucket_floor = 2^b/100 is one shared double
    expression. ONE hash aggregate over a ~40-key domain: the
    canonical map-side-partial shape."""
    o = t(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(15,2)") * 100).cast("bigint")
    b = o.select(cents.alias("cents")).where(F.col("cents") > 0).select(
        (F.length(F.expr("bin(cents)")) - 1).alias("bucket")
    )
    return b.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt")).select(
        F.col("bucket").cast("int").alias("log2_bucket"),
        (F.pow(F.lit(2.0), F.col("bucket")) / 100.0).alias("bucket_floor"),
        F.col("cnt").cast("bigint").alias("n"),
    )


# --- Market-basket co-occurrence lift (r9) ----------------------------------

_BASKET_SQL = """
WITH ob AS (
  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
n AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM ob),
bc AS (SELECT brand, COUNT(*) AS cnt FROM ob GROUP BY brand),
pairs AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*) AS n_ab
  FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand < b.brand
  GROUP BY 1, 2
)
SELECT p.brand_a, p.brand_b,
       CAST(p.n_ab AS BIGINT) AS n_ab,
       CAST(p.n_ab * n.n_orders AS DOUBLE)
         / CAST(ca.cnt * cb.cnt AS DOUBLE) AS lift
FROM pairs p
CROSS JOIN n
JOIN bc ca ON ca.brand = p.brand_a
JOIN bc cb ON cb.brand = p.brand_b
ORDER BY lift DESC, p.brand_a, p.brand_b
LIMIT 20
"""


@register("agg_market_basket_lift", oracle=_BASKET_SQL, tags=("agg", "join", "bench"))
def agg_market_basket_lift(spark, sf_dir):
    """Market-basket co-occurrence lift over order contents: distinct
    (order, brand) pairs, within-order brand pairs (a < b), lift =
    P(a,b)/(P(a)P(b)) as exact-integer products divided once in DOUBLE
    (n_ab·n_orders and n_a·n_b both < 2^53 ⇒ the division operands are
    bit-identical in both engines). The self-join is blocked by
    ORDER — pair cost is Σ basket_size², never catalog²; with 25
    brands the pair/count tables are alphabet-sized aggregates. Top 20
    by (lift DESC, brands ASC) — fully deterministic under ties."""
    # fanout: the basket aggregate's map side (scan + broadcast join +
    # partial collect_set) otherwise runs on the fixture's single
    # parquet row group — one core does all the per-row work (guide
    # §2.5 input skew; at scale the scan's own row groups parallelize)
    li = t(spark, sf_dir, "lineitem", fanout=True).select("l_orderkey", "l_partkey")
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # ONE (order)-keyed aggregate carries the whole query (r13
    # optimization round): baskets = sorted distinct brand sets per
    # order. The previous shape (distinct (ok, brand) + self-join +
    # separate eager n_orders count) executed the lineitem⋈part build
    # four times; here every consumer — within-order pairs (in-array
    # i<j expansion, no self-join shuffle), per-brand counts, and the
    # order total — hangs off the SAME exchange, which Spark runs once
    # (ReusedExchange). Pair cost stays Σ basket_size² with basket
    # size bounded by lines-per-order; no eager driver action remains,
    # so the whole query is one AQE plan.
    baskets = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand"))
        .groupBy("ok")
        .agg(F.array_sort(F.collect_set("brand")).alias("brands"))
    )
    n_ord = baskets.agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    bc = (
        baskets.select(F.explode("brands").alias("brand"))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("brands"),
            lambda x, i: F.transform(
                F.slice(F.col("brands"), i + 2, F.size("brands")),
                lambda y: F.struct(x.alias("brand_a"), y.alias("brand_b")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pair_arr).alias("p"))
        .select("p.brand_a", "p.brand_b")
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    ca = bc.select(F.col("brand").alias("brand_a"), F.col("cnt").alias("cnt_a"))
    cb = bc.select(F.col("brand").alias("brand_b"), F.col("cnt").alias("cnt_b"))
    return (
        pairs.join(F.broadcast(ca), "brand_a")
        .join(F.broadcast(cb), "brand_b")
        .crossJoin(F.broadcast(n_ord))
        .select(
            "brand_a",
            "brand_b",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            (
                (F.col("n_ab") * F.col("n_orders")).cast("double")
                / (F.col("cnt_a") * F.col("cnt_b")).cast("double")
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "brand_a", "brand_b")
        .limit(20)
    )


# --- Mann-Whitney U rank-sum test (r9) ---------------------------------------

_MWU_SQL = """
WITH s AS (
  SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 'A' ELSE 'B' END AS grp,
         o.o_totalprice AS v
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
),
g AS (
  SELECT v,
         SUM(CASE WHEN grp = 'A' THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN grp = 'B' THEN 1 ELSE 0 END) AS cb,
         COUNT(*) AS t
  FROM s GROUP BY v
),
p AS (
  SELECT *, COALESCE(SUM(t) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM g
),
agg AS (
  SELECT CAST(SUM(p.ca) AS BIGINT) AS na,
         CAST(SUM(p.cb) AS BIGINT) AS nb,
         CAST(SUM(p.ca * (2 * p.cum_before + p.t + 1)) AS BIGINT) AS two_ra,
         CAST(SUM(p.t * p.t * p.t - p.t) AS BIGINT) AS sum_t
  FROM p
)
SELECT na AS n_a, nb AS n_b,
       CAST(two_ra - na * (na + 1) AS BIGINT) AS two_u_a,
       CAST(two_ra - na * (na + 1) - na * nb AS DOUBLE)
         / SQRT((CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 3.0)
                * (CAST(na + nb + 1 AS DOUBLE)
                   - CAST(sum_t AS DOUBLE)
                     / CAST((na + nb) * (na + nb - 1) AS DOUBLE))) AS z
FROM agg
"""


@register("agg_mann_whitney_u", oracle=_MWU_SQL, tags=("agg", "scale"))
def agg_mann_whitney_u(spark, sf_dir):
    """Mann-Whitney U rank-sum test (two-sided z with tie correction)
    comparing order totals between two customer segments — the
    nonparametric sibling of `agg_welch_ttest`. NO global window: the
    combined sample is reduced to per-DISTINCT-VALUE counts (ca, cb,
    t), the tie-averaged rank identity 2·rank(v) = 2·cum_before(v) +
    t + 1 turns the rank sum into exact-integer sums over that value
    table, and the one global prefix (cum_before) runs through the
    range-bucketed two-phase decomposition (operators/prefix.py) — so
    the whole test is hash aggregates plus one bucket-parallel prefix,
    scalable to any N. All state is exact integers until the closing
    z, a fixed chain of IEEE ops on identical operands in both engines
    (house discipline). Accumulators are decimal(38,0) Spark-side —
    the rank sum is bounded by 2·N·n_A, which outgrows int64 around
    N ≈ 10^9·n_A ratios; DuckDB sums in int128 natively."""
    from etlalchemy_spark.operators.prefix import running_global_sum

    o = t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    s = (
        o.join(c, o.o_custkey == c.c_custkey)
        .where(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            F.when(F.col("c_mktsegment") == "BUILDING", "A").otherwise("B").alias("grp"),
            F.col("o_totalprice").alias("v"),
        )
    )
    g = s.groupBy("v").agg(
        F.sum(F.when(F.col("grp") == "A", 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("grp") == "B", 1).otherwise(0)).alias("cb"),
        F.count(F.lit(1)).alias("t"),
    )
    p = running_global_sum(
        g, F.col("v"), [], F.col("t").cast("decimal(38,0)"), alias="_cum", n_buckets=16
    )
    p = p.withColumn("cum_before", (F.col("_cum") - F.col("t")).cast("decimal(38,0)"))
    d38 = "decimal(38,0)"
    agg = p.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
        F.sum(
            (F.col("ca").cast(d38))
            * (F.lit(2).cast(d38) * F.col("cum_before") + F.col("t") + 1)
        ).cast("bigint").alias("two_ra"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("sum_t"),
    )
    na, nb = F.col("na"), F.col("nb")
    two_u = F.col("two_ra") - na * (na + 1)
    den = F.sqrt(
        (na.cast("double") * nb.cast("double") / F.lit(3.0))
        * (
            (na + nb + 1).cast("double")
            - F.col("sum_t").cast("double") / ((na + nb) * (na + nb - 1)).cast("double")
        )
    )
    return agg.select(
        na.alias("n_a"),
        nb.alias("n_b"),
        two_u.cast("bigint").alias("two_u_a"),
        ((two_u - na * nb).cast("double") / den).alias("z"),
    )


# --- Grouped OLS trend (r9) ---------------------------------------------------

_OLS_SQL = """
WITH pts AS (
  SELECT o_custkey % 10 AS grp,
         CAST(datediff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS x,
         CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT) AS y4
  FROM orders
),
s AS (
  SELECT grp,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y4) AS BIGINT) AS sy4,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * y4) AS BIGINT) AS sxy4
  FROM pts GROUP BY grp
)
SELECT grp, n,
       (CAST(n AS DOUBLE) * CAST(sxy4 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy4 AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         / 10000.0 AS slope_per_day,
       (CAST(sy4 AS DOUBLE) / 10000.0
        - ((CAST(n AS DOUBLE) * CAST(sxy4 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy4 AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           / 10000.0) * CAST(sx AS DOUBLE))
         / CAST(n AS DOUBLE) AS intercept
FROM s
"""


@register("agg_ols_by_group", oracle=_OLS_SQL, tags=("agg", "scale"))
def agg_ols_by_group(spark, sf_dir):
    """Per-group ordinary least squares (closed form) — revenue trend
    per customer cohort: slope = (nΣxy − ΣxΣy)/(nΣxx − (Σx)²) with
    EVERY moment an exact integer (prices scaled ×10⁴ into longs, days
    since epoch as x), so the closing slope/intercept doubles are a
    fixed IEEE chain on identical operands in both engines. ONE hash
    aggregate over the fact table — the grouped-regression shape that
    needs no MLlib, no iteration, no second pass; at 100 TB it is
    map-side partials all the way down. Spark sums in decimal(38,0)
    (Σxy reaches n·x·y ≈ 10^4·10^9-scale products; DuckDB sums in
    int128 natively)."""
    o = t(spark, sf_dir, "orders")
    pts = o.select(
        (F.col("o_custkey") % 10).alias("grp"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("bigint")
        .alias("x"),
        (F.col("o_totalprice").cast("decimal(18,4)") * 10000)
        .cast("bigint")
        .alias("y4"),
    )
    d38 = "decimal(38,0)"
    s = pts.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x").cast(d38)).cast("bigint").alias("sx"),
        F.sum(F.col("y4").cast(d38)).cast("bigint").alias("sy4"),
        F.sum((F.col("x") * F.col("x")).cast(d38)).cast("bigint").alias("sxx"),
        F.sum((F.col("x") * F.col("y4")).cast(d38)).cast("bigint").alias("sxy4"),
    )
    # each exact int64 moment converts to double FIRST (int64->double
    # is correctly rounded in both engines), then the slope is one
    # identical IEEE chain — int128/decimal products would double-round
    # differently in the final conversion (1-ulp drift, measured)
    dd = lambda name: F.col(name).cast("double")  # noqa: E731
    n, sx, sy4 = dd("n"), dd("sx"), dd("sy4")
    sxx, sxy4 = dd("sxx"), dd("sxy4")
    slope = (
        (n * sxy4 - sx * sy4) / (n * sxx - sx * sx) / F.lit(10000.0)
    )
    intercept = (sy4 / F.lit(10000.0) - slope * sx) / n
    return s.select("grp", "n", slope.alias("slope_per_day"), intercept.alias("intercept"))


_HIST2D_SQL = """
SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS price_bin,
       CAST(FLOOR(datediff('day', DATE '1995-01-01', o_orderdate) / 365.0) AS BIGINT)
         AS year_bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 4) AS DOUBLE)
         AS bin_revenue
FROM orders
GROUP BY 1, 2
"""


@register("agg_histogram_2d", oracle=_HIST2D_SQL, tags=("agg",))
def agg_histogram_2d(spark, sf_dir):
    """2-D equi-width histogram (price x order-year heatmap): both bin
    ids are exact integer floor-divisions, so the grid is engine-
    identical; counts + decimal-exact per-bin revenue in ONE hash
    aggregate with map-side partials — the density-grid shape every
    heatmap/viz layer asks the warehouse for, at any scale."""
    o = t(spark, sf_dir, "orders")
    price_bin = F.floor(F.col("o_totalprice") / 50000).cast("bigint")
    year_bin = F.floor(
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")) / 365
    ).cast("bigint")
    return o.groupBy(
        price_bin.alias("price_bin"), year_bin.alias("year_bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("decimal(38,4)")
        .cast("double")
        .alias("bin_revenue"),
    )


# --- Cramér's V effect size (r9) ----------------------------------------------

_CRAMERS_SQL = """
WITH obs AS (
  SELECT o_orderstatus AS r, o_orderpriority AS c, COUNT(*) AS o
  FROM orders GROUP BY 1, 2
),
rt AS (SELECT r, SUM(o) AS row_tot FROM obs GROUP BY r),
ct AS (SELECT c, SUM(o) AS col_tot FROM obs GROUP BY c),
n AS (SELECT SUM(o) AS total,
             COUNT(DISTINCT r) AS nr, COUNT(DISTINCT c) AS nc FROM obs),
cells AS (
  SELECT o, CAST(row_tot * col_tot AS DOUBLE) / CAST(total AS DOUBLE) AS e,
         total, nr, nc
  FROM obs JOIN rt USING (r) JOIN ct USING (c) CROSS JOIN n
)
SELECT CAST(ROUND(SUM(CAST((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e AS DECIMAL(24,10))), 10) AS DOUBLE) AS chi2,
       CAST(MAX(total) AS BIGINT) AS n,
       CAST(MAX(nr) AS BIGINT) AS r_levels,
       CAST(MAX(nc) AS BIGINT) AS c_levels,
       SQRT(CAST(ROUND(SUM(CAST((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e AS DECIMAL(24,10))), 10) AS DOUBLE)
            / (CAST(MAX(total) AS DOUBLE)
               * CAST(LEAST(MAX(nr) - 1, MAX(nc) - 1) AS DOUBLE))) AS cramers_v
FROM cells
"""


@register("agg_cramers_v", oracle=_CRAMERS_SQL, tags=("agg", "stats"))
def agg_cramers_v(spark, sf_dir):
    """Cramér's V effect size for order status × priority: the
    chi-square independence statistic (the agg_chi2_independence
    discipline — per-cell double terms on exact integer inputs,
    quantized to decimal before the order-insensitive reduction)
    normalized to [0,1] by sqrt(chi2 / (n·min(r-1,c-1))), the measure
    analysts actually compare across tables because unlike raw chi2 it
    doesn't grow with n. sqrt is IEEE-754 correctly rounded, so it is
    the one libm-adjacent function that IS safe cross-engine — the
    same reason rational idf replaced log elsewhere (SURVEY §2). Shape:
    three aggregate-sized frames joined back onto ≤ r·c cells."""
    o = t(spark, sf_dir, "orders")
    obs = o.groupBy(
        F.col("o_orderstatus").alias("r"), F.col("o_orderpriority").alias("c")
    ).agg(F.count(F.lit(1)).alias("o"))
    rt = obs.groupBy("r").agg(F.sum("o").alias("row_tot"))
    ct = obs.groupBy("c").agg(F.sum("o").alias("col_tot"))
    n = obs.agg(
        F.sum("o").alias("total"),
        F.countDistinct("r").alias("nr"),
        F.countDistinct("c").alias("nc"),
    )
    cells = (
        obs.join(rt, "r")
        .join(ct, "c")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "e",
            (F.col("row_tot") * F.col("col_tot")).cast("double")
            / F.col("total").cast("double"),
        )
    )
    od = F.col("o").cast("double")
    term = ((od - F.col("e")) * (od - F.col("e")) / F.col("e")).cast("decimal(24,10)")
    chi2 = F.sum(term).cast("decimal(38,10)").cast("double")
    tot = F.max("total")
    dof = F.least(F.max("nr") - 1, F.max("nc") - 1)
    return cells.agg(
        chi2.alias("chi2"),
        tot.cast("bigint").alias("n"),
        F.max("nr").cast("bigint").alias("r_levels"),
        F.max("nc").cast("bigint").alias("c_levels"),
        F.sqrt(chi2 / (tot.cast("double") * dof.cast("double"))).alias("cramers_v"),
    )


# --- Permutation test (r9) ------------------------------------------------------

_PERM_B = 20


def _perm_sql() -> str:
    from etlalchemy_spark.queries.sampling import _bucket_sql

    arm_cols = ",\n         ".join(
        f"CASE WHEN {_bucket_sql('o_custkey', f'perm{r}:')} < 500000 THEN 1 ELSE 0 END AS a{r}"
        for r in range(_PERM_B)
    )
    per_r = ",\n       ".join(
        f"""(CAST(CAST(SUM(CASE WHEN a{r} = 1 THEN cents ELSE 0 END) AS VARCHAR) AS DOUBLE)
          / CAST(SUM(a{r}) AS DOUBLE)
        - CAST(CAST(SUM(CASE WHEN a{r} = 0 THEN cents ELSE 0 END) AS VARCHAR) AS DOUBLE)
          / CAST(COUNT(*) - SUM(a{r}) AS DOUBLE)) AS d{r}"""
        for r in range(_PERM_B)
    )
    ge = " + ".join(f"(CASE WHEN ABS(d{r}) >= ABS(d_obs) THEN 1 ELSE 0 END)" for r in range(_PERM_B))
    return f"""
WITH pc AS (
  SELECT o_custkey,
         SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS cents,
         CASE WHEN {_bucket_sql('o_custkey', 'ab:')} < 500000 THEN 1 ELSE 0 END AS obs,
         {arm_cols}
  FROM orders GROUP BY o_custkey
),
d AS (
  SELECT COUNT(*) AS n_units,
       (CAST(CAST(SUM(CASE WHEN obs = 1 THEN cents ELSE 0 END) AS VARCHAR) AS DOUBLE)
          / CAST(SUM(obs) AS DOUBLE)
        - CAST(CAST(SUM(CASE WHEN obs = 0 THEN cents ELSE 0 END) AS VARCHAR) AS DOUBLE)
          / CAST(COUNT(*) - SUM(obs) AS DOUBLE)) AS d_obs,
       {per_r}
  FROM pc
)
SELECT CAST(n_units AS BIGINT) AS n_units,
       d_obs / 100.0 AS observed_diff,
       CAST({ge} AS BIGINT) AS n_as_extreme,
       CAST(1 + ({ge}) AS DOUBLE) / CAST(1 + {_PERM_B} AS DOUBLE) AS p_value
FROM d
"""


@register("agg_permutation_test", oracle=_perm_sql(), tags=("agg", "stats", "sampling", "bench"))
def agg_permutation_test(spark, sf_dir):
    """Permutation test for the A/B spend contrast — the
    nonparametric significance readout that makes no normality
    assumption (contrast agg_welch_ttest): the observed arm split is
    the portable md5 assignment (sample_ab_assignment's), and each of
    B=20 permuted re-assignments is just a RE-SALTED hash — stateless,
    engine/retry-reproducible, no RNG state to ship (the
    sample_poisson_bootstrap discipline applied to inference). All
    B+1 mean differences compute in ONE aggregate over the per-unit
    frame (per-customer exact cents; sums VARCHAR-routed to double),
    and the p-value is the add-one-smoothed exceedance count — a
    single rational. Scale shape: one per-unit shuffle + one
    aggregate whose width is B columns; B scales the CPU of the
    aggregate, never a second pass over the fact table."""
    o = t(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("long")

    # every repeated expression family rides ONE parsed string (the
    # holt-winters/BPE plan-construction lesson, r14): the per-arm
    # Column chains (21 hash arms + 21 diff aggregates + the 20-term
    # exceedance sum) cost ~1 s of pure Py4J roundtrips per
    # invocation, re-paid every timed bench run. The strings parse to
    # the identical analyzed trees (fingerprint-pinned).
    def arm_sql(salt: str, alias: str) -> str:
        h = (
            f"CAST(conv(substring(md5(concat('{salt}', "
            f"CAST(o_custkey AS STRING))), 1, 15), 16, 10) AS BIGINT) % 1000000"
        )
        return f"CAST(({h}) < 500000 AS INT) AS {alias}"

    pc = o.groupBy("o_custkey").agg(F.sum(cents).alias("cents")).selectExpr(
        "o_custkey",
        "cents",
        arm_sql("ab:", "obs"),
        *[arm_sql(f"perm{r}:", f"a{r}") for r in range(_PERM_B)],
    )

    def diff_sql(col: str) -> str:
        st = f"SUM(CASE WHEN ({col} = 1) THEN cents ELSE 0 END)"
        sc = f"SUM(CASE WHEN ({col} = 0) THEN cents ELSE 0 END)"
        return (
            f"CAST(CAST({st} AS DECIMAL(38,0)) AS DOUBLE) / CAST(SUM({col}) AS DOUBLE)"
            f" - CAST(CAST({sc} AS DECIMAL(38,0)) AS DOUBLE)"
            f" / CAST((COUNT(1) - SUM({col})) AS DOUBLE)"
        )

    d = pc.agg(
        F.expr("COUNT(1)").alias("n_units"),
        F.expr(diff_sql("obs")).alias("d_obs"),
        *[F.expr(diff_sql(f"a{r}")).alias(f"d{r}") for r in range(_PERM_B)],
    )
    ge_sql = " + ".join(
        f"CAST(abs(d{r}) >= abs(d_obs) AS INT)" for r in range(_PERM_B)
    )
    return d.selectExpr(
        "CAST(n_units AS BIGINT) AS n_units",
        "(d_obs / 100.0D) AS observed_diff",  # D: double literal, as F.lit(100.0) was
        f"CAST({ge_sql} AS BIGINT) AS n_as_extreme",
        f"CAST(1 + ({ge_sql}) AS DOUBLE) / CAST({1 + _PERM_B} AS DOUBLE) AS p_value",
    )


# --- ABC / Pareto classification (r9) --------------------------------------------

_ABC_SQL = """
WITH pr AS (
  SELECT l_partkey AS p_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS r
  FROM lineitem GROUP BY 1
),
c AS (SELECT p_partkey, CAST(r * 10000 AS BIGINT) AS rev4 FROM pr),
t AS (SELECT SUM(rev4) AS tot FROM c),
runs AS (
  SELECT p_partkey, rev4,
         SUM(rev4) OVER (ORDER BY rev4 DESC, p_partkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM c
)
SELECT p_partkey,
       CAST(rev4 AS DOUBLE) / 10000.0 AS revenue,
       CAST(run AS DOUBLE) / CAST(tot AS DOUBLE) AS cum_share,
       CASE WHEN 100 * run <= 70 * tot THEN 'A'
            WHEN 100 * run <= 90 * tot THEN 'B'
            ELSE 'C' END AS abc_class
FROM runs, t
"""


@register("agg_abc_pareto", oracle=_ABC_SQL, tags=("agg", "window", "scale"))
def agg_abc_pareto(spark, sf_dir):
    """ABC/Pareto classification of parts by revenue — the 80/20
    inventory segmentation every supply-chain and catalog team runs:
    parts sort by exact revenue (integer 1e-4 units) descending,
    cumulative share classifies A (top 70% of revenue), B (to 90%),
    C (tail). The global running sum uses the range-bucketed prefix
    path (operators/prefix.py) — NO single-partition window at any
    corpus size — ordered by the exact NEGATED integer revenue with a
    partkey tie-break, and class boundaries compare exact integers
    (100·run ≤ 70·total), so the class assignment is engine-identical
    even at boundary parts. One lineitem shuffle + the prefix
    machinery's bucket pass."""
    from etlalchemy_spark.operators.prefix import running_global_sum

    li = t(spark, sf_dir, "lineitem")
    rev = F.sum(
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(12,2)"))
    )
    c = (
        li.groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg((rev * 10000).cast("bigint").alias("rev4"))
    )
    c = cut(c)  # two consumers: totals aggregate + prefix pass
    tot = c.agg(F.sum("rev4").alias("tot"))
    runs = running_global_sum(
        c,
        -F.col("rev4"),
        ["p_partkey"],
        F.col("rev4").cast("decimal(18,0)"),
        alias="_run",
        n_buckets=16,
    ).withColumn("run", F.col("_run").cast("bigint"))
    return runs.crossJoin(F.broadcast(tot)).select(
        "p_partkey",
        (F.col("rev4").cast("double") / 10000.0).alias("revenue"),
        (F.col("run").cast("double") / F.col("tot").cast("double")).alias("cum_share"),
        F.when(100 * F.col("run") <= 70 * F.col("tot"), "A")
        .when(100 * F.col("run") <= 90 * F.col("tot"), "B")
        .otherwise("C")
        .alias("abc_class"),
    )


# --- Delta-method ratio-metric SE (r9) ---------------------------------------------


def _ratio_delta_sql() -> str:
    from etlalchemy_spark.queries.sampling import _bucket_sql

    return f"""
WITH pu AS (
  SELECT o_custkey,
         CASE WHEN {_bucket_sql("o_custkey", "ab:")} < 500000
              THEN 'control' ELSE 'treatment' END AS arm,
         CAST(COUNT(*) AS BIGINT) AS y,
         SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS x
  FROM orders GROUP BY 1, 2
),
m AS (
  SELECT arm,
         CAST(COUNT(*) AS DOUBLE) AS n,
         COUNT(*) AS n_units,
         CAST(CAST(SUM(CAST(x AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(x AS HUGEINT) * x) AS VARCHAR) AS DOUBLE) AS sxx,
         CAST(CAST(SUM(CAST(y AS HUGEINT) * y) AS VARCHAR) AS DOUBLE) AS syy,
         CAST(CAST(SUM(CAST(x AS HUGEINT) * y) AS VARCHAR) AS DOUBLE) AS sxy
  FROM pu GROUP BY arm
)
SELECT arm,
       CAST(n_units AS BIGINT) AS n_units,
       ((sx / n) / (sy / n)) / 100.0 AS revenue_per_order,
       SQRT(
         (((sx / n) / (sy / n)) * ((sx / n) / (sy / n)))
         * ( ((sxx / n) - (sx / n) * (sx / n)) / ((sx / n) * (sx / n))
           + ((syy / n) - (sy / n) * (sy / n)) / ((sy / n) * (sy / n))
           - 2.0 * ((sxy / n) - (sx / n) * (sy / n)) / ((sx / n) * (sy / n)) )
         / n
       ) / 100.0 AS se_delta
FROM m
"""


@register("agg_ratio_delta_method", oracle=_ratio_delta_sql(), tags=("agg", "stats", "sampling"))
def agg_ratio_delta_method(spark, sf_dir):
    """Delta-method standard error for a RATIO metric (revenue per
    order by arm) — the experimentation stat the t-test can't give
    you: both numerator and denominator are random per unit
    (customer), so Var(X̄/Ȳ) needs the first-order expansion
    (x/y)²·(vx/x² + vy/y² − 2cov/xy)/n. Naively treating orders as
    units understates the SE whenever customers differ in order count
    — the classic A/B pitfall this operator exists to prevent. All
    moments are exact integer sums (HUGEINT ≡ decimal(38,0),
    VARCHAR-routed to double), the closing chain is one shared
    double formula, so even the SE hash-matches. One per-unit
    shuffle + one per-arm aggregate."""
    from etlalchemy_spark.operators.sampling import hash_bucket

    o = t(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("long")
    pu = (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("y"), F.sum(cents).alias("x"))
        .withColumn(
            "arm",
            F.when(hash_bucket(F.col("o_custkey"), "ab:") < 500000, "control")
            .otherwise("treatment"),
        )
    )
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    m = pu.groupBy("arm").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.count(F.lit(1)).alias("n_units"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(xd * xd).cast("double").alias("sxx"),
        F.sum(yd * yd).cast("double").alias("syy"),
        F.sum(xd * yd).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    mx, my = sx / n, sy / n
    r = mx / my
    se = F.sqrt(
        (r * r)
        * (
            ((sxx / n) - mx * mx) / (mx * mx)
            + ((syy / n) - my * my) / (my * my)
            - 2.0 * ((sxy / n) - mx * my) / (mx * my)
        )
        / n
    )
    return m.select(
        "arm",
        F.col("n_units").cast("bigint").alias("n_units"),
        (r / 100.0).alias("revenue_per_order"),
        (se / 100.0).alias("se_delta"),
    )


from etlalchemy_spark.queries._util import ln_int_sql  # noqa: E402

_LN_N = ln_int_sql("n")
_LN_NT = ln_int_sql("nt")

_ENTROPY_SQL = f"""
WITH c AS (
  SELECT source, lang, COUNT(*) AS n
  FROM documents GROUP BY source, lang
),
terms AS (
  -- per-term double -> fixed-scale decimal BEFORE the sum: each
  -- n*ln(n) term is the IDENTICAL arithmetic in both engines
  -- (ln_int_sql -- libm ln is engine-specific, so ln is built from
  -- identically-rounded IEEE ops), and the decimal sum is exact and
  -- order-free
  SELECT source,
         SUM(CAST(CAST(n AS DOUBLE) * {_LN_N} AS DECIMAL(28,10))) AS s_nlogn,
         SUM(n) AS nt,
         COUNT(*) AS n_langs
  FROM c GROUP BY source
)
SELECT source,
       CAST(nt AS BIGINT) AS n_docs,
       CAST(n_langs AS BIGINT) AS n_langs,
       -- numerator is an EXACT decimal whose unscaled value fits well
       -- under 2^53, so the double conversion is exact in both
       -- engines and the final H is ONE identical IEEE division
       -- decimal -> double through VARCHAR: DuckDB's int128->double
       -- conversion double-rounds (memory: duckdb-int128-double)
       -- s_nlogn re-narrows to DECIMAL(28,10) (exact: fixture sums
       -- are tiny) so the subtraction stays at full scale — Spark's
       -- 38-precision cap would otherwise shave the last digit
       CAST(CAST(CAST(CAST(CAST(nt AS DOUBLE) * {_LN_NT} AS DECIMAL(28,10))
                      - CAST(s_nlogn AS DECIMAL(28,10)) AS VARCHAR) AS DOUBLE)
            / CAST(nt AS DOUBLE) AS DOUBLE) AS lang_entropy_nats
FROM terms
"""


@register("agg_entropy_exact", oracle=_ENTROPY_SQL, tags=("agg", "stats", "text"))
def agg_entropy_exact(spark, sf_dir):
    """Shannon entropy of each source's language distribution — the
    diversity diagnostic a corpus-mixing pipeline monitors per slice
    (a source collapsing to one language is an ingestion bug). Uses
    the algebraic form H = ln(N) - (1/N)*SUM n_i*ln(n_i) where ln of an
    integer count is computed by ln_int_sql: libm ln rounds
    differently across engines (the tfidf finding), so ln is BUILT
    from identically-rounded IEEE arithmetic (exact power-of-2 range
    reduction + atanh series) and BOTH formulations evaluate the same
    expression text. Each n*ln(n) term casts to a fixed-scale decimal
    before the sum (exact, order-free), the numerator converts to
    double exactly, and H is one identical IEEE division. Two hash
    aggregates, both partial-agg friendly; group count = distinct
    (source, lang), never rows."""
    from etlalchemy_spark.queries._util import t as _t

    c = (
        _t(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    terms = c.groupBy("source").agg(
        F.sum(
            F.expr(f"CAST(CAST(n AS DOUBLE) * {_LN_N} AS DECIMAL(28,10))")
        ).alias("s_nlogn"),
        F.sum("n").alias("nt"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    num = (
        F.expr(f"CAST(CAST(nt AS DOUBLE) * {_LN_NT} AS DECIMAL(28,10))")
        - F.col("s_nlogn").cast("decimal(28,10)")
    )
    return terms.select(
        "source",
        F.col("nt").cast("bigint").alias("n_docs"),
        F.col("n_langs").cast("bigint").alias("n_langs"),
        (num.cast("double") / F.col("nt").cast("double")).alias("lang_entropy_nats"),
    )
    nd = F.col("n").cast("double")
    terms = c.groupBy("source").agg(
        F.sum((nd * F.log(nd)).cast("decimal(28,10)")).alias("s_nlogn"),
        F.sum("n").alias("nt"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    ntd = F.col("nt").cast("double")
    num = (ntd * F.log(ntd)).cast("decimal(28,10)") - F.col("s_nlogn")
    return terms.select(
        "source",
        F.col("nt").cast("bigint").alias("n_docs"),
        F.col("n_langs").cast("bigint").alias("n_langs"),
        (num.cast("double") / ntd).alias("lang_entropy_nats"),
    )


_LN_M = ln_int_sql("m")
_LN_NS = ln_int_sql("ns")
_LN_MT = ln_int_sql("mt")

_KL_SQL = f"""
WITH c AS (
  SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY source, lang
),
q AS (SELECT lang, SUM(n) AS m FROM c GROUP BY lang),
qt AS (SELECT SUM(m) AS mt FROM q),
terms AS (
  -- n * (ln n - ln m): both lns are the shared identically-rounded
  -- arithmetic, the difference and product are single IEEE ops, and
  -- the decimal cast makes the per-source sum exact and order-free
  SELECT c.source,
         SUM(CAST(CAST(c.n AS DOUBLE) * ({ln_int_sql("c.n")} - {ln_int_sql("q.m")})
                  AS DECIMAL(28,10))) AS s_term,
         SUM(c.n) AS ns
  FROM c JOIN q USING (lang) GROUP BY c.source
)
SELECT t.source,
       CAST(t.ns AS BIGINT) AS n_docs,
       CAST((CAST(CAST(CAST(t.s_term AS DECIMAL(28,10)) AS VARCHAR) AS DOUBLE)
             / CAST(t.ns AS DOUBLE) - {_LN_NS}) + {_LN_MT} AS DOUBLE)
         AS kl_nats
FROM terms t, qt
"""


@register("agg_kl_lang_drift", oracle=_KL_SQL, tags=("agg", "stats", "text"))
def agg_kl_lang_drift(spark, sf_dir):
    """KL divergence of each source's language mix from the corpus
    language mix — the drift alarm a multi-source ingestion pipeline
    runs per slice (a source whose mix diverges from the corpus is
    mislabeled, re-crawled, or broken upstream). Algebraic form
    KL = (1/N)*SUM n_i*(ln n_i - ln m_i) - ln N + ln M keeps every ln
    on an INTEGER count (cross-engine-exact ln_int_sql, see
    agg_entropy_exact), terms decimal-sum order-free, and the final
    combine is a fixed parenthesization of identical doubles. Sources
    missing a language contribute nothing (0*ln0 = 0 — the inner join
    drops only n=0 cells, which don't exist in a count table). Two
    hash aggregates + one tiny join on lang."""
    from etlalchemy_spark.queries._util import t as _t

    c = (
        _t(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = c.groupBy("lang").agg(F.sum("n").alias("m"))
    qt = q.agg(F.sum("m").alias("mt"))
    term = F.expr(
        f"CAST(CAST(n AS DOUBLE) * ({ln_int_sql('n')} - {ln_int_sql('m')})"
        " AS DECIMAL(28,10))"
    )
    terms = (
        c.join(q, "lang")
        .select("source", term.alias("term"), "n")
        .groupBy("source")
        .agg(F.sum("term").alias("s_term"), F.sum("n").alias("ns"))
    )
    return terms.crossJoin(F.broadcast(qt)).select(
        "source",
        F.col("ns").cast("bigint").alias("n_docs"),
        F.expr(
            f"CAST((CAST(CAST(s_term AS DECIMAL(28,10)) AS DOUBLE)"
            f" / CAST(ns AS DOUBLE) - {_LN_NS}) + {_LN_MT} AS DOUBLE)"
        ).alias("kl_nats"),
    )


# --- Spearman rank correlation (r10) --------------------------------------------

_SPEARMAN_SQL = """
WITH pts AS (
  SELECT l_returnflag AS grp,
         CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS x,
         CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
  FROM lineitem
),
dx AS (SELECT grp, x AS v, COUNT(*) AS t FROM pts GROUP BY grp, x),
px AS (
  SELECT grp, v,
         2 * COALESCE(SUM(t) OVER (PARTITION BY grp ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1 AS r2
  FROM dx
),
dy AS (SELECT grp, y AS v, COUNT(*) AS t FROM pts GROUP BY grp, y),
py AS (
  SELECT grp, v,
         2 * COALESCE(SUM(t) OVER (PARTITION BY grp ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1 AS r2
  FROM dy
),
j AS (
  SELECT p.grp, px.r2 AS rx, py.r2 AS ry
  FROM pts p
  JOIN px ON p.grp = px.grp AND p.x = px.v
  JOIN py ON p.grp = py.grp AND p.y = py.v
),
s AS (
  SELECT grp, COUNT(*) AS n,
         SUM(CAST(rx AS HUGEINT)) AS srx,
         SUM(CAST(ry AS HUGEINT)) AS sry,
         SUM(CAST(rx AS HUGEINT) * rx) AS srxx,
         SUM(CAST(ry AS HUGEINT) * ry) AS sryy,
         SUM(CAST(rx AS HUGEINT) * ry) AS srxy
  FROM j GROUP BY grp
)
SELECT grp, CAST(n AS BIGINT) AS n,
       CAST(CAST(n * srxy - srx * sry AS VARCHAR) AS DOUBLE)
       / SQRT(CAST(CAST(n * srxx - srx * srx AS VARCHAR) AS DOUBLE)
              * CAST(CAST(n * sryy - sry * sry AS VARCHAR) AS DOUBLE)) AS spearman_rho
FROM s
"""


@register("agg_spearman_corr", oracle=_SPEARMAN_SQL, tags=("agg", "stats", "scale", "bench"))
def agg_spearman_corr(spark, sf_dir):
    """Spearman rank correlation with tie-averaged ranks, per group
    (r10) — the monotone-association readout `agg_corr_exact` (Pearson)
    misses when the relationship is nonlinear, and the standard screen
    for 'does quality score track doc length?' style curation
    questions. NO global sort of the fact table: each variable reduces
    to per-DISTINCT-VALUE counts, the tie-averaged rank identity
    2*rank(v) = 2*cum_before(v) + t + 1 (the `agg_mann_whitney_u`
    machinery) turns ranks into exact integers over those value
    tables, and the per-group prefix runs as a partitioned window over
    VALUE rows, never fact rows. Two equi-joins hang the integer
    double-ranks back on the facts; Pearson-on-ranks then needs one
    hash aggregate of five decimal(38,0) sums. Everything is exact
    integers until the closing rho, a fixed IEEE tree over
    VARCHAR-routed doubles (house discipline)."""
    from pyspark.sql import Window as W

    # fanout: the single-row-group scan otherwise runs each (grp, v)
    # partial aggregation on ONE core (~0.7-0.9 s per axis, 3 axes —
    # the r13 map-bound finding applied to partial aggs)
    li = t(spark, sf_dir, "lineitem", fanout=True)
    pts = li.select(
        F.col("l_returnflag").alias("grp"),
        (F.col("l_quantity").cast("decimal(12,2)") * 100).cast("bigint").alias("x"),
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100).cast("bigint").alias("y"),
    )

    def rank2(col):
        d = pts.groupBy("grp", F.col(col).alias("v")).agg(F.count(F.lit(1)).alias("t"))
        w = (
            W.partitionBy("grp")
            .orderBy("v")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        cum = F.sum(F.col("t").cast("decimal(38,0)")).over(w)
        return d.select(
            "grp",
            "v",
            (
                F.lit(2).cast("decimal(38,0)") * (cum - F.col("t")) + F.col("t") + 1
            ).cast("decimal(38,0)").alias("r2"),
        )

    px = rank2("x").withColumnRenamed("r2", "rx").withColumnRenamed("v", "x")
    # broadcast pinned: Catalyst's post-aggregate size estimates
    # inverted the build sides here (it BROADCAST the 600k-row fact
    # projection and the ~594k-row price-rank table and STREAMED the
    # 150-row quantity-rank table, serializing the probe + final
    # aggregate onto ~2 tasks — r13 node-metrics profile). px (distinct
    # quantities x 3 flags, bounded) is the broadcast side.
    #
    # The y axis never joins back to facts at all: one (grp, y)
    # aggregate carries the per-cell count t plus the x-rank partial
    # sums (sum rx, sum rx^2), the y double-rank ry = 2*cum_before+t+1
    # comes from the same per-group window the old value table used,
    # and the per-group Pearson sums regroup as srx = sum srx_y,
    # sry = sum t*ry, srxy = sum ry*srx_y, sryy = sum t*ry^2 — exact
    # integer decimal(38,0) sums reassociated, so every operand of the
    # closing IEEE tree is bit-identical to the fact-join formulation
    # the DuckDB oracle spells. Drops the second 600k-row exchange,
    # the y-side join build, and the no-reduction (grp, y) partial
    # aggregate branch (the r13 plan showed that branch re-scanning
    # lineitem and aggregating 600k -> 594k rows for nothing).
    jx = pts.join(F.broadcast(px), ["grp", "x"])
    cell = jx.groupBy("grp", "y").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("t"),
        F.sum("rx").alias("srx_y"),
        F.sum(F.col("rx") * F.col("rx")).alias("srxx_y"),
    )
    wy = (
        W.partitionBy("grp")
        .orderBy("y")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = F.sum(F.col("t")).over(wy)
    ry = (
        F.lit(2).cast("decimal(38,0)") * (cum - F.col("t")) + F.col("t") + 1
    ).cast("decimal(38,0)")
    s = cell.withColumn("ry", ry).groupBy("grp").agg(
        F.sum("t").cast("decimal(38,0)").alias("n"),
        F.sum("srx_y").alias("srx"),
        F.sum(F.col("t") * F.col("ry")).alias("sry"),
        F.sum("srxx_y").alias("srxx"),
        F.sum(F.col("t") * F.col("ry") * F.col("ry")).alias("sryy"),
        F.sum(F.col("ry") * F.col("srx_y")).alias("srxy"),
    )
    num = (F.col("n") * F.col("srxy") - F.col("srx") * F.col("sry")).cast("double")
    dx = (F.col("n") * F.col("srxx") - F.col("srx") * F.col("srx")).cast("double")
    dy = (F.col("n") * F.col("sryy") - F.col("sry") * F.col("sry")).cast("double")
    return s.select(
        "grp",
        F.col("n").cast("bigint").alias("n"),
        (num / F.sqrt(dx * dy)).alias("spearman_rho"),
    )


# --- ROC AUC via rank statistic (r10) ---------------------------------------------

_AUC_SQL = """
WITH s AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS pos
  FROM orders
),
g AS (SELECT v, SUM(pos) AS c1, COUNT(*) - SUM(pos) AS c0 FROM s GROUP BY v),
p AS (
  SELECT *, COALESCE(SUM(c0) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum0
  FROM g
),
a AS (
  SELECT SUM(c1) AS n1, SUM(c0) AS n0,
         SUM(CAST(c1 AS HUGEINT) * (2 * cum0 + c0)) AS two_u
  FROM p
)
SELECT CAST(n1 AS BIGINT) AS n_pos, CAST(n0 AS BIGINT) AS n_neg,
       CAST(CAST(two_u AS VARCHAR) AS DOUBLE)
         / (2e0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)) AS auc,
       CAST(CAST(two_u AS VARCHAR) AS DOUBLE)
         / (CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)) - 1e0 AS gini_coefficient
FROM a
"""


@register("agg_auc_roc", oracle=_AUC_SQL, tags=("agg", "stats", "scale"))
def agg_auc_roc(spark, sf_dir):
    """Exact ROC AUC of a score against a binary label (r10) — the
    standard readout for 'does this quality/classifier score actually
    separate the classes?' before a threshold is picked. AUC is the
    probability a positive outranks a negative, i.e. the normalized
    Mann-Whitney U — so the same distinct-value machinery applies: per
    score value count positives/negatives, one bucket-parallel global
    prefix of negatives-below (operators/prefix.py — NO single-
    partition window), and 2U = sum c1*(2*cum0_before + c0) counts
    every (pos, neg) pair exactly, ties as half. One hash agg + one
    prefix + one one-row reduce at any scale; exact integers until the
    closing division (VARCHAR-routed doubles, house discipline). Also
    emits the Gini coefficient 2*AUC - 1."""
    from etlalchemy_spark.operators.prefix import running_global_sum

    o = t(spark, sf_dir, "orders")
    s = o.select(
        (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint").alias("v"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int").alias("pos"),
    )
    g = s.groupBy("v").agg(
        F.sum("pos").alias("c1"),
        (F.count(F.lit(1)) - F.sum("pos")).alias("c0"),
    )
    p = running_global_sum(
        g, F.col("v"), [], F.col("c0").cast("decimal(38,0)"), alias="_cum", n_buckets=16
    )
    p = p.withColumn("cum0", (F.col("_cum") - F.col("c0")).cast("decimal(38,0)"))
    a = p.agg(
        F.sum("c1").alias("n1"),
        F.sum("c0").alias("n0"),
        F.sum(
            F.col("c1").cast("decimal(38,0)")
            * (F.lit(2).cast("decimal(38,0)") * F.col("cum0") + F.col("c0"))
        ).alias("two_u"),
    )
    two_u = F.col("two_u").cast("double")
    n1d, n0d = F.col("n1").cast("double"), F.col("n0").cast("double")
    return a.select(
        F.col("n1").cast("bigint").alias("n_pos"),
        F.col("n0").cast("bigint").alias("n_neg"),
        (two_u / (F.lit(2.0) * n1d * n0d)).alias("auc"),
        (two_u / (n1d * n0d) - F.lit(1.0)).alias("gini_coefficient"),
    )


# --- One-way ANOVA F statistic (r10) ----------------------------------------------

_ANOVA_BASE_SQL = """
WITH x AS (
  SELECT c.c_mktsegment AS grp,
         CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
g AS (
  SELECT grp, COUNT(*) AS n, SUM(cents) AS s,
         SUM(CAST(cents AS HUGEINT) * cents) AS q
  FROM x GROUP BY grp
),
terms AS (
  SELECT grp, n, s, q,
         CAST(CAST(CAST(CAST(s AS HUGEINT) * s AS VARCHAR) AS DOUBLE)
              / CAST(n AS DOUBLE) AS DECIMAL(38,8)) AS term
  FROM g
),
a AS (
  SELECT COUNT(*) AS k, SUM(n) AS nn, SUM(s) AS ss, SUM(q) AS qq,
         CAST(CAST(SUM(term) AS VARCHAR) AS DOUBLE) AS st
  FROM terms
)
SELECT CAST(k AS BIGINT) AS k_groups,
       CAST(nn AS BIGINT) AS n_total,
       (st - CAST(CAST(CAST(ss AS HUGEINT) * ss AS VARCHAR) AS DOUBLE)
               / CAST(nn AS DOUBLE)) / 10000e0 AS ss_between,
       (CAST(CAST(qq AS VARCHAR) AS DOUBLE) - st) / 10000e0 AS ss_within,
       ((st - CAST(CAST(CAST(ss AS HUGEINT) * ss AS VARCHAR) AS DOUBLE)
                / CAST(nn AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
       / ((CAST(CAST(qq AS VARCHAR) AS DOUBLE) - st) / CAST(nn - k AS DOUBLE))
         AS f_stat,
       (st - CAST(CAST(CAST(ss AS HUGEINT) * ss AS VARCHAR) AS DOUBLE)
               / CAST(nn AS DOUBLE))
       / (CAST(CAST(qq AS VARCHAR) AS DOUBLE)
          - CAST(CAST(CAST(ss AS HUGEINT) * ss AS VARCHAR) AS DOUBLE)
            / CAST(nn AS DOUBLE)) AS eta_squared
FROM a
"""

_ANOVA_ST = SqlStages()
_ANOVA_ST.add("CAST(k_groups - 1 AS DOUBLE)", name="_d1")
_ANOVA_ST.add("CAST(n_total - k_groups AS DOUBLE)", name="_d2")
_ANOVA_ST, _ = f_pvalue_stages("f_stat", "_d1", "_d2", st=_ANOVA_ST)
_ANOVA_SQL = _ANOVA_ST.duckdb_sql(
    _ANOVA_BASE_SQL,
    "SELECT k_groups, n_total, ss_between, ss_within, f_stat,"
    " eta_squared, p_value",
)


@register("agg_anova_oneway", oracle=_ANOVA_SQL, tags=("agg", "stats"))
def agg_anova_oneway(spark, sf_dir):
    """One-way ANOVA F statistic across customer segments (r10) — the
    k-group generalization of `agg_welch_ttest`: 'did ANY segment's
    mean move?' asked once instead of k² pairwise t-tests. Sufficient
    statistics only: each group reduces map-side to the exact integer
    triple (n, sum-of-cents, sum-of-squared-cents); the between/within
    decomposition needs one more k-row reduce. The only non-integer
    intermediate is sum-of(s_g^2/n_g), whose per-group terms are
    correctly-rounded doubles of exact operands cast to scale-8
    decimals so the k-term sum is order-free (the zipf-fit idiom);
    every closing expression is a fixed IEEE tree over VARCHAR-routed
    doubles. Emits SSB/SSW (dollar^2 units), F, eta-squared and
    (since r11) the upper-tail p-value I_{d2/(d2+d1 F)}(d2/2, d1/2)
    from the shared staged IEEE incomplete-beta
    (queries/_special.py) — hash-exact across engines. One
    fact-table scan at any scale."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    x = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("grp"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    g = x.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents").cast("decimal(19,0)") * F.col("cents").cast("decimal(19,0)"))
        .alias("q"),
    )
    term = (
        (F.col("s").cast("decimal(38,0)") * F.col("s").cast("decimal(38,0)"))
        .cast("double")
        / F.col("n").cast("double")
    ).cast("decimal(38,8)")
    a = g.select("n", "s", "q", term.alias("term")).agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nn"),
        F.sum("s").cast("decimal(38,0)").alias("ss"),
        F.sum("q").cast("decimal(38,0)").alias("qq"),
        F.sum("term").cast("double").alias("st"),
    )
    grand = (
        (F.col("ss") * F.col("ss")).cast("double") / F.col("nn").cast("double")
    )
    ssb = F.col("st") - grand
    ssw = F.col("qq").cast("double") - F.col("st")
    base = a.select(
        F.col("k").cast("bigint").alias("k_groups"),
        F.col("nn").cast("bigint").alias("n_total"),
        (ssb / F.lit(10000.0)).alias("ss_between"),
        (ssw / F.lit(10000.0)).alias("ss_within"),
        (
            (ssb / (F.col("k") - 1).cast("double"))
            / (ssw / (F.col("nn") - F.col("k")).cast("double"))
        ).alias("f_stat"),
        (ssb / (F.col("qq").cast("double") - grand)).alias("eta_squared"),
    )
    # barrier (one row) + shared IEEE p-value stages (_special.py):
    # d1 = k-1, d2 = n-k as plain columns first
    return _ANOVA_ST.apply_spark(base.repartition(1)).select(
        "k_groups", "n_total", "ss_between", "ss_within", "f_stat",
        "eta_squared", "p_value",
    )


# --- Benjamini-Hochberg FDR over exact permutation p-values (r10) -------------------

_BH_M = 8  # tested groups
_BH_B = 20  # permutations per group (p granularity 1/21)
# reject p_i <= q*i/m with q = 1/20 and p = k/21  <=>  20*m*k <= 21*i
_BH_LHS = 20 * _BH_M


def _bh_sql() -> str:
    from etlalchemy_spark.queries.sampling import _bucket_sql

    arm_cols = ",\n         ".join(
        f"CASE WHEN {_bucket_sql('o_custkey', f'perm{r}:')} < 500000 THEN 1 ELSE 0 END AS a{r}"
        for r in range(_BH_B)
    )
    def diff(a):
        return (
            f"(CAST(CAST(SUM(CASE WHEN {a} = 1 THEN cents ELSE 0 END) AS VARCHAR) AS DOUBLE)"
            f" / CAST(SUM({a}) AS DOUBLE)"
            f" - CAST(CAST(SUM(CASE WHEN {a} = 0 THEN cents ELSE 0 END) AS VARCHAR) AS DOUBLE)"
            f" / CAST(COUNT(*) - SUM({a}) AS DOUBLE))"
        )

    per_r = ",\n       ".join(f"{diff(f'a{r}')} AS d{r}" for r in range(_BH_B))
    ge = " + ".join(
        f"(CASE WHEN ABS(d{r}) >= ABS(d_obs) THEN 1 ELSE 0 END)" for r in range(_BH_B)
    )
    return f"""
WITH pc AS (
  SELECT o_custkey, o_custkey % {_BH_M} AS grp,
         SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS cents,
         CASE WHEN {_bucket_sql('o_custkey', 'ab:')} < 500000 THEN 1 ELSE 0 END AS obs,
         {arm_cols}
  FROM orders GROUP BY o_custkey
),
d AS (
  SELECT grp, COUNT(*) AS n_units, {diff('obs')} AS d_obs, {per_r}
  FROM pc GROUP BY grp
),
kp AS (
  SELECT grp, n_units, d_obs, CAST(1 + {ge} AS BIGINT) AS k_exceed
  FROM d
),
rk AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY k_exceed, grp) AS i FROM kp
),
st AS (
  SELECT *, MAX(CASE WHEN {_BH_LHS} * k_exceed <= {_BH_B + 1} * i THEN i ELSE 0 END)
              OVER () AS i_star
  FROM rk
)
SELECT grp, CAST(n_units AS BIGINT) AS n_units,
       d_obs / 100.0 AS observed_diff,
       CAST(k_exceed AS DOUBLE) / {_BH_B + 1}e0 AS p_value,
       CAST(i AS BIGINT) AS bh_rank,
       (i <= i_star) AS rejected
FROM st
"""


@register("agg_bh_fdr", oracle=_bh_sql(), tags=("agg", "stats", "sampling"))
def agg_bh_fdr(spark, sf_dir):
    """Benjamini-Hochberg FDR control over per-group permutation tests
    (r10) — the multiple-testing correction every metrics platform
    needs once it tests 8 segments instead of 1: naive per-test
    alpha=0.05 false-positives ~1/3 of healthy dashboards. Each
    group's p-value is EXACT — the add-one-smoothed exceedance
    rational k/21 from 20 salted-hash re-assignments (the
    agg_permutation_test machinery, grouped) — so the BH step-up
    condition p_i <= q*i/m clears denominators into the pure integer
    test 20*m*k_i <= 21*i: no float thresholds anywhere. All B+1
    contrasts for all m groups compute in ONE aggregate over the
    per-customer frame; the BH sort/rank windows run over m GROUP
    rows, never units. Emits per group: exact p, BH rank, and the
    step-up reject decision at q=0.05."""
    from pyspark.sql import Window as W

    from etlalchemy_spark.operators.sampling import hash_bucket

    o = t(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("long")
    arms = [
        (hash_bucket(F.col("o_custkey"), "ab:") < 500000).cast("int").alias("obs")
    ] + [
        (hash_bucket(F.col("o_custkey"), f"perm{r}:") < 500000)
        .cast("int")
        .alias(f"a{r}")
        for r in range(_BH_B)
    ]
    pc = (
        o.groupBy("o_custkey")
        .agg(F.sum(cents).alias("cents"))
        .select(
            "o_custkey", (F.col("o_custkey") % _BH_M).alias("grp"), "cents", *arms
        )
    )

    def diff(col):
        a = F.col(col)
        st = F.sum(F.when(a == 1, F.col("cents")).otherwise(F.lit(0)))
        sc = F.sum(F.when(a == 0, F.col("cents")).otherwise(F.lit(0)))
        return st.cast("decimal(38,0)").cast("double") / F.sum(a).cast(
            "double"
        ) - sc.cast("decimal(38,0)").cast("double") / (
            F.count(F.lit(1)) - F.sum(a)
        ).cast("double")

    d = pc.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_units"),
        diff("obs").alias("d_obs"),
        *[diff(f"a{r}").alias(f"d{r}") for r in range(_BH_B)],
    )
    ge = sum(
        (F.abs(F.col(f"d{r}")) >= F.abs(F.col("d_obs"))).cast("int")
        for r in range(_BH_B)
    )
    kp = d.select(
        "grp", "n_units", "d_obs", (F.lit(1) + ge).cast("bigint").alias("k_exceed")
    )
    rk = kp.withColumn(
        "i", F.row_number().over(W.orderBy("k_exceed", "grp")).cast("bigint")
    )
    i_star = F.max(
        F.when(
            F.lit(_BH_LHS) * F.col("k_exceed") <= F.lit(_BH_B + 1) * F.col("i"),
            F.col("i"),
        ).otherwise(F.lit(0))
    ).over(W.partitionBy())
    return rk.select(
        "grp",
        F.col("n_units").cast("bigint").alias("n_units"),
        (F.col("d_obs") / 100.0).alias("observed_diff"),
        (F.col("k_exceed").cast("double") / F.lit(float(_BH_B + 1))).alias("p_value"),
        F.col("i").alias("bh_rank"),
        (F.col("i") <= i_star).alias("rejected"),
    )


# --- Capture-recapture population estimate (r10) -------------------------------------

_CAPTURE_SQL = """
WITH a AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate < TIMESTAMP '1994-01-01 00:00:00'
),
b AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
),
m AS (SELECT COUNT(*) AS m FROM a WHERE o_custkey IN (SELECT o_custkey FROM b)),
tru AS (SELECT COUNT(DISTINCT o_custkey) AS n_true FROM orders)
SELECT CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS n_sample_a,
       CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS n_sample_b,
       CAST(m.m AS BIGINT) AS n_recaptured,
       -- Chapman's bias-corrected Lincoln-Petersen (exact rational)
       CAST((CAST((SELECT COUNT(*) FROM a) + 1 AS HUGEINT)
             * ((SELECT COUNT(*) FROM b) + 1)) AS DOUBLE)
         / CAST(m.m + 1 AS DOUBLE) - 1e0 AS population_est,
       CAST(tru.n_true AS BIGINT) AS n_true
FROM m, tru
"""


@register("agg_capture_recapture", oracle=_CAPTURE_SQL, tags=("agg", "stats"))
def agg_capture_recapture(spark, sf_dir):
    """Capture-recapture population estimate (r10) — the ecology
    estimator data teams reach for when the denominator is unknowable
    directly: how many TOTAL customers/entities/duplicate clusters
    exist, given two independent 'sightings' (two crawl passes, two
    date windows, two dedup runs) and their overlap? Chapman's
    bias-corrected Lincoln-Petersen: N = (nA+1)(nB+1)/(m+1) - 1 —
    exact integers until one closing division, audited against the
    true distinct count. Shape: two distinct hash-aggs + one
    semi-join for the overlap + one-row closing select; both capture
    windows push their date filters into the scan."""
    o = t(spark, sf_dir, "orders")
    from etlalchemy_spark.queries._util import ts

    a = o.where(F.col("o_orderdate") < ts("1994-01-01 00:00:00")).select(
        "o_custkey"
    ).distinct()
    b = o.where(
        (F.col("o_orderdate") >= ts("1994-01-01 00:00:00"))
        & (F.col("o_orderdate") < ts("1996-01-01 00:00:00"))
    ).select("o_custkey").distinct()
    m = a.join(b, "o_custkey", "left_semi").agg(F.count(F.lit(1)).alias("m"))
    na = a.agg(F.count(F.lit(1)).alias("na"))
    nb = b.agg(F.count(F.lit(1)).alias("nb"))
    tru = o.agg(F.countDistinct("o_custkey").alias("n_true"))
    w = (
        m.crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(tru))
    )
    est = (
        ((F.col("na") + 1).cast("decimal(38,0)") * (F.col("nb") + 1)).cast("double")
        / (F.col("m") + 1).cast("double")
        - F.lit(1.0)
    )
    return w.select(
        F.col("na").cast("bigint").alias("n_sample_a"),
        F.col("nb").cast("bigint").alias("n_sample_b"),
        F.col("m").cast("bigint").alias("n_recaptured"),
        est.alias("population_est"),
        F.col("n_true").cast("bigint").alias("n_true"),
    )


# --- Calibration bins + Brier score (r10) ----------------------------------------------

_CALIB_SQL = """
WITH s AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS y
  FROM orders
),
g AS (SELECT v, COUNT(*) AS t, SUM(y) AS pos FROM s GROUP BY v),
p AS (
  SELECT v, t, pos,
         2 * COALESCE(SUM(t) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1 AS r2
  FROM g
),
nn AS (SELECT SUM(t) AS n FROM g),
b AS (
  SELECT LEAST((10 * (r2 - 1)) // (2 * nn.n), 9) AS decile,
         t, pos, r2, nn.n
  FROM p, nn
)
SELECT CAST(decile AS INT) AS decile,
       CAST(SUM(t) AS BIGINT) AS n,
       CAST(SUM(pos) AS BIGINT) AS n_pos,
       CAST(CAST(SUM(CAST(t AS HUGEINT) * r2) AS VARCHAR) AS DOUBLE)
         / (2e0 * CAST(MAX(n) AS DOUBLE) * CAST(SUM(t) AS DOUBLE)) AS mean_predicted,
       CAST(SUM(pos) AS DOUBLE) / CAST(SUM(t) AS DOUBLE) AS observed_rate,
       (CAST(CAST(SUM(CAST(r2 AS HUGEINT) * r2 * t) AS VARCHAR) AS DOUBLE)
          / (4e0 * CAST(MAX(n) AS DOUBLE) * CAST(MAX(n) AS DOUBLE))
        - CAST(CAST(SUM(CAST(pos AS HUGEINT) * r2) AS VARCHAR) AS DOUBLE)
          / CAST(MAX(n) AS DOUBLE)
        + CAST(SUM(pos) AS DOUBLE)) / CAST(MAX(n) AS DOUBLE) AS brier_contrib
FROM b GROUP BY decile
"""


@register("agg_calibration_brier", oracle=_CALIB_SQL, tags=("agg", "stats", "scale"))
def agg_calibration_brier(spark, sf_dir):
    """Calibration (reliability) bins + Brier decomposition (r10) —
    the classifier-quality readout threshold pickers need: per
    predicted-probability decile, the mean prediction vs the observed
    positive rate (a calibrated model tracks the diagonal), plus each
    decile's exact Brier contribution (summing to the overall mean
    squared error of the probabilistic forecast). The 'model score'
    is the exact percentile of order value — tie-averaged rank over
    per-DISTINCT-VALUE counts (the Mann-Whitney/Spearman machinery,
    no fact-table sort), so p = r2/(2N) is an exact rational and
    every moment (sum p, sum p², sum p over positives) is an exact
    integer sum over VALUE rows. One distinct-value agg + one prefix
    + one 10-row re-agg; doubles only in the closing selects
    (VARCHAR-routed, house discipline)."""
    from etlalchemy_spark.operators.prefix import running_global_sum

    o = t(spark, sf_dir, "orders")
    s = o.select(
        (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint").alias("v"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int").alias("y"),
    )
    # NOT cut despite the two consumers: A/B measured the shared
    # materialization neutral-to-worse here (1.63 vs 1.69 s) — the
    # re-executed upstream is one cheap aggregate (r14 session 2)
    g = s.groupBy("v").agg(F.count(F.lit(1)).alias("t"), F.sum("y").alias("pos"))
    p = running_global_sum(
        g, F.col("v"), [], F.col("t").cast("decimal(38,0)"), alias="_cum", n_buckets=16
    )
    p = p.withColumn(
        "r2",
        (
            F.lit(2).cast("decimal(38,0)") * (F.col("_cum") - F.col("t"))
            + F.col("t")
            + 1
        ).cast("decimal(38,0)"),
    )
    nn = g.agg(F.sum("t").alias("n"))
    # decile by INTEGER floor division on longs: decimal `/` rounds
    # HALF_UP at its result scale before a bigint cast truncates, so a
    # quotient within 5e-7 below a boundary would mis-bin once 2N
    # exceeds ~2e6 rows
    b = p.crossJoin(F.broadcast(nn)).withColumn(
        "decile",
        F.least(
            F.expr("(10 * (CAST(r2 AS BIGINT) - 1)) div (2 * CAST(n AS BIGINT))"),
            F.lit(9).cast("bigint"),
        ),
    )
    d38 = "decimal(38,0)"
    agg = b.groupBy("decile").agg(
        F.sum("t").cast("bigint").alias("n_bin"),
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum(F.col("t").cast(d38) * F.col("r2")).alias("sum_r2"),
        F.sum(F.col("r2") * F.col("r2") * F.col("t").cast(d38)).alias("sum_r2sq"),
        F.sum(F.col("pos").cast(d38) * F.col("r2")).alias("sum_pos_r2"),
        F.max("n").cast("double").alias("nd"),
    )
    return agg.select(
        F.col("decile").cast("int").alias("decile"),
        F.col("n_bin").alias("n"),
        F.col("n_pos").alias("n_pos"),
        (
            F.col("sum_r2").cast("double")
            / (F.lit(2.0) * F.col("nd") * F.col("n_bin").cast("double"))
        ).alias("mean_predicted"),
        (F.col("n_pos").cast("double") / F.col("n_bin").cast("double")).alias(
            "observed_rate"
        ),
        (
            (
                F.col("sum_r2sq").cast("double") / (F.lit(4.0) * F.col("nd") * F.col("nd"))
                - F.col("sum_pos_r2").cast("double") / F.col("nd")
                + F.col("n_pos").cast("double")
            )
            / F.col("nd")
        ).alias("brier_contrib"),
    )


# --- Cronbach's alpha (r10) ------------------------------------------------------------

_CRONBACH_SQL = """
WITH q AS (
  SELECT c.c_custkey,
         SUM(CASE WHEN month(o.o_orderdate) BETWEEN 1 AND 3
                  THEN CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                  ELSE 0 END) AS s1,
         SUM(CASE WHEN month(o.o_orderdate) BETWEEN 4 AND 6
                  THEN CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                  ELSE 0 END) AS s2,
         SUM(CASE WHEN month(o.o_orderdate) BETWEEN 7 AND 9
                  THEN CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                  ELSE 0 END) AS s3,
         SUM(CASE WHEN month(o.o_orderdate) BETWEEN 10 AND 12
                  THEN CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                  ELSE 0 END) AS s4
  FROM customer c
  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
   AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
   AND o.o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
  GROUP BY c.c_custkey
),
m AS (
  SELECT COUNT(*) AS n,
         SUM(s1) AS x1, SUM(CAST(s1 AS HUGEINT) * s1) AS q1,
         SUM(s2) AS x2, SUM(CAST(s2 AS HUGEINT) * s2) AS q2,
         SUM(s3) AS x3, SUM(CAST(s3 AS HUGEINT) * s3) AS q3,
         SUM(s4) AS x4, SUM(CAST(s4 AS HUGEINT) * s4) AS q4,
         SUM(s1 + s2 + s3 + s4) AS xt,
         SUM(CAST(s1 + s2 + s3 + s4 AS HUGEINT) * (s1 + s2 + s3 + s4)) AS qt
  FROM q
),
v AS (
  SELECT n,
         (CAST(CAST(q1 AS VARCHAR) AS DOUBLE) - CAST(CAST(CAST(x1 AS HUGEINT) * x1 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
         + (CAST(CAST(q2 AS VARCHAR) AS DOUBLE) - CAST(CAST(CAST(x2 AS HUGEINT) * x2 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
         + (CAST(CAST(q3 AS VARCHAR) AS DOUBLE) - CAST(CAST(CAST(x3 AS HUGEINT) * x3 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
         + (CAST(CAST(q4 AS VARCHAR) AS DOUBLE) - CAST(CAST(CAST(x4 AS HUGEINT) * x4 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
           AS item_var_sum,
         CAST(CAST(qt AS VARCHAR) AS DOUBLE)
         - CAST(CAST(CAST(xt AS HUGEINT) * xt AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
           AS total_var
  FROM m
)
SELECT CAST(n AS BIGINT) AS n_customers,
       CAST(4 AS INT) AS k_items,
       item_var_sum / 10000e0 / CAST(n AS DOUBLE) AS sum_item_variance,
       total_var / 10000e0 / CAST(n AS DOUBLE) AS total_variance,
       (4e0 / 3e0) * (1e0 - item_var_sum / total_var) AS cronbach_alpha
FROM v
"""


@register("agg_cronbach_alpha", oracle=_CRONBACH_SQL, tags=("agg", "stats"))
def agg_cronbach_alpha(spark, sf_dir):
    """Cronbach's alpha (r10) — internal-consistency reliability: do
    the four quarterly spend 'items' measure one underlying trait
    (customer value), or is a composite annual score meaningless?
    The metric-design question every scorecard/index builder should
    ask (alpha < 0.7 means the composite is noise). alpha =
    k/(k-1) * (1 - sum item_var / total_var), everything from exact
    integer cents moments per item and for the item SUM (the
    covariance structure enters through var(total)); one wide
    conditional aggregate per customer + a one-row moments reduce,
    closing in a fixed IEEE tree over VARCHAR-routed doubles. The
    LEFT join keeps zero-spend customers — dropping them inflates
    alpha."""
    from etlalchemy_spark.queries._util import ts

    c = t(spark, sf_dir, "customer").select("c_custkey")
    o = t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= ts("1995-01-01 00:00:00"))
        & (F.col("o_orderdate") < ts("1996-01-01 00:00:00"))
    )
    cents = (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint")
    j = c.join(o, c.c_custkey == o.o_custkey, "left")
    month = F.month(F.col("o_orderdate").cast("timestamp"))

    def item(lo, hi):
        return F.sum(
            F.when(month.between(lo, hi), cents).otherwise(F.lit(0))
        )

    q = j.groupBy("c_custkey").agg(
        F.coalesce(item(1, 3), F.lit(0)).alias("s1"),
        F.coalesce(item(4, 6), F.lit(0)).alias("s2"),
        F.coalesce(item(7, 9), F.lit(0)).alias("s3"),
        F.coalesce(item(10, 12), F.lit(0)).alias("s4"),
    )
    d38 = "decimal(38,0)"
    tot = (F.col("s1") + F.col("s2") + F.col("s3") + F.col("s4"))
    m = q.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            x
            for i in (1, 2, 3, 4)
            for x in (
                F.sum(f"s{i}").alias(f"x{i}"),
                F.sum(F.col(f"s{i}").cast(d38) * F.col(f"s{i}")).alias(f"q{i}"),
            )
        ],
        F.sum(tot).alias("xt"),
        F.sum(tot.cast(d38) * tot).alias("qt"),
    )
    nd = F.col("n").cast("double")

    def var(xc, qc):
        return F.col(qc).cast("double") - (
            (F.col(xc).cast(d38) * F.col(xc)).cast("double") / nd
        )

    item_var_sum = var("x1", "q1") + var("x2", "q2") + var("x3", "q3") + var("x4", "q4")
    total_var = var("xt", "qt")
    return m.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.lit(4).cast("int").alias("k_items"),
        (item_var_sum / F.lit(10000.0) / nd).alias("sum_item_variance"),
        (total_var / F.lit(10000.0) / nd).alias("total_variance"),
        ((F.lit(4.0) / F.lit(3.0)) * (F.lit(1.0) - item_var_sum / total_var)).alias(
            "cronbach_alpha"
        ),
    )


# --- Odds ratio / log-OR with SE (r10) -------------------------------------------------

_OR_LN_AD = ln_int_sql("(a * d)")
_OR_LN_BC = ln_int_sql("(b * c)")

_ODDS_SQL = f"""
WITH x AS (
  SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS urgent,
         CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS big
  FROM orders
),
c2 AS (
  SELECT SUM(CASE WHEN urgent = 1 AND big = 1 THEN 1 ELSE 0 END) AS a,
         SUM(CASE WHEN urgent = 1 AND big = 0 THEN 1 ELSE 0 END) AS b,
         SUM(CASE WHEN urgent = 0 AND big = 1 THEN 1 ELSE 0 END) AS c,
         SUM(CASE WHEN urgent = 0 AND big = 0 THEN 1 ELSE 0 END) AS d
  FROM x
)
SELECT CAST(a AS BIGINT) AS n11, CAST(b AS BIGINT) AS n10,
       CAST(c AS BIGINT) AS n01, CAST(d AS BIGINT) AS n00,
       CAST(CAST(CAST(a AS HUGEINT) * d AS VARCHAR) AS DOUBLE)
         / CAST(CAST(CAST(b AS HUGEINT) * c AS VARCHAR) AS DOUBLE) AS odds_ratio,
       CAST(({_OR_LN_AD}) - ({_OR_LN_BC}) AS DOUBLE) AS log_odds_ratio,
       SQRT(1e0 / CAST(a AS DOUBLE) + 1e0 / CAST(b AS DOUBLE)
            + 1e0 / CAST(c AS DOUBLE) + 1e0 / CAST(d AS DOUBLE)) AS log_or_se
FROM c2
"""


@register("agg_odds_ratio", oracle=_ODDS_SQL, tags=("agg", "stats"))
def agg_odds_ratio(spark, sf_dir):
    """Odds ratio with log-OR and its standard error (r10) — the 2x2
    effect-size readout epidemiology and conversion analysis share
    ('how much likelier is a big order to be urgent?'); the log-OR
    +/- 1.96*SE interval is the inference, and ln(ad/bc) is EXACT
    here because it splits into two integer lns (ln_int over the ad
    and bc products — a 2x2 table is the integer-ln construction's
    ideal case). Woolf's SE = sqrt(1/a + 1/b + 1/c + 1/d) is a fixed
    IEEE tree over exact counts. One scan, one 4-cell aggregate."""
    o = t(spark, sf_dir, "orders")
    x = o.select(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int").alias("urgent"),
        (F.col("o_totalprice") > 150000).cast("int").alias("big"),
    )
    c2 = x.agg(
        F.sum(((F.col("urgent") == 1) & (F.col("big") == 1)).cast("long")).alias("a"),
        F.sum(((F.col("urgent") == 1) & (F.col("big") == 0)).cast("long")).alias("b"),
        F.sum(((F.col("urgent") == 0) & (F.col("big") == 1)).cast("long")).alias("c"),
        F.sum(((F.col("urgent") == 0) & (F.col("big") == 0)).cast("long")).alias("d"),
    )
    d38 = "decimal(38,0)"
    return c2.select(
        F.col("a").cast("bigint").alias("n11"),
        F.col("b").cast("bigint").alias("n10"),
        F.col("c").cast("bigint").alias("n01"),
        F.col("d").cast("bigint").alias("n00"),
        (
            (F.col("a").cast(d38) * F.col("d")).cast("double")
            / (F.col("b").cast(d38) * F.col("c")).cast("double")
        ).alias("odds_ratio"),
        F.expr(f"CAST(({_OR_LN_AD}) - ({_OR_LN_BC}) AS DOUBLE)").alias(
            "log_odds_ratio"
        ),
        F.sqrt(
            1.0 / F.col("a").cast("double")
            + 1.0 / F.col("b").cast("double")
            + 1.0 / F.col("c").cast("double")
            + 1.0 / F.col("d").cast("double")
        ).alias("log_or_se"),
    )


# --- Cumulative gains / lift table (r10) -----------------------------------------------

_GAINS_SQL = """
WITH s AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS y
  FROM orders
),
g AS (SELECT v, COUNT(*) AS t, SUM(y) AS pos FROM s GROUP BY v),
p AS (
  SELECT v, t, pos,
         2 * COALESCE(SUM(t) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1 AS r2
  FROM g
),
nn AS (SELECT SUM(t) AS n, SUM(pos) AS npos FROM g),
b AS (
  SELECT 9 - LEAST((10 * (r2 - 1)) // (2 * nn.n), 9) AS bucket,
         t, pos, nn.n, nn.npos
  FROM p, nn
),
per AS (
  SELECT bucket, SUM(t) AS nb, SUM(pos) AS pb, MAX(n) AS n, MAX(npos) AS npos
  FROM b GROUP BY bucket
),
cum AS (
  SELECT bucket, nb, pb, n, npos,
         SUM(nb) OVER (ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
         SUM(pb) OVER (ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
  FROM per
)
SELECT CAST(bucket AS INT) AS decile_rank,
       CAST(nb AS BIGINT) AS n,
       CAST(pb AS BIGINT) AS n_pos,
       CAST(cp AS DOUBLE) / CAST(npos AS DOUBLE) AS cum_gain,
       (CAST(cp AS DOUBLE) / CAST(npos AS DOUBLE))
         / (CAST(cn AS DOUBLE) / CAST(n AS DOUBLE)) AS cum_lift
FROM cum
"""


@register("agg_gains_lift", oracle=_GAINS_SQL, tags=("agg", "stats", "scale"))
def agg_gains_lift(spark, sf_dir):
    """Cumulative gains / lift table (r10) — 'if we contact the top
    k deciles by model score, what share of all positives do we
    capture, and how much better than random?' — the targeting
    readout every campaign/risk model ships with (lift 1.0 = the
    model is a coin). Deciles come from the exact tie-averaged rank
    over per-DISTINCT-VALUE counts (the calibration-bin machinery,
    bucket 0 = highest scores), integer floor-div binning; the
    cumulative sums run over TEN bucket rows. Everything is exact
    integers until the closing shares."""
    from etlalchemy_spark.operators.prefix import running_global_sum

    o = t(spark, sf_dir, "orders")
    s = o.select(
        (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint").alias("v"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int").alias("y"),
    )
    g = cut(  # two consumers: prefix pass + totals aggregate
        s.groupBy("v").agg(F.count(F.lit(1)).alias("t"), F.sum("y").alias("pos"))
    )
    p = running_global_sum(
        g, F.col("v"), [], F.col("t").cast("decimal(38,0)"), alias="_cum", n_buckets=16
    )
    p = p.withColumn(
        "r2",
        (
            F.lit(2).cast("decimal(38,0)") * (F.col("_cum") - F.col("t"))
            + F.col("t")
            + 1
        ).cast("decimal(38,0)"),
    )
    nn = g.agg(F.sum("t").alias("n"), F.sum("pos").alias("npos"))
    b = p.crossJoin(F.broadcast(nn)).withColumn(
        "bucket",
        F.lit(9)
        - F.least(
            F.expr("(10 * (CAST(r2 AS BIGINT) - 1)) div (2 * CAST(n AS BIGINT))"),
            F.lit(9).cast("bigint"),
        ),
    )
    per = b.groupBy("bucket").agg(
        F.sum("t").alias("nb"),
        F.sum("pos").alias("pb"),
        F.max("n").alias("n"),
        F.max("npos").alias("npos"),
    )
    # cumulative over the TEN decile rows via a broadcast triangular
    # self-join — not an unpartitioned window (the no-single-partition-
    # WindowExec tripwire in tests/test_plans.py applies even to
    # bounded frames; 55 join pairs are scale-free)
    tri = per.select(
        F.col("bucket").alias("b2"),
        F.col("nb").alias("nb2"),
        F.col("pb").alias("pb2"),
    )
    cum = (
        per.join(F.broadcast(tri), F.col("b2") <= F.col("bucket"))
        .groupBy("bucket")
        .agg(
            F.max("nb").alias("nb"),
            F.max("pb").alias("pb"),
            F.max("n").alias("n"),
            F.max("npos").alias("npos"),
            F.sum("nb2").alias("cn"),
            F.sum("pb2").alias("cp"),
        )
    )
    return cum.select(
        F.col("bucket").cast("int").alias("decile_rank"),
        F.col("nb").cast("bigint").alias("n"),
        F.col("pb").cast("bigint").alias("n_pos"),
        (F.col("cp").cast("double") / F.col("npos").cast("double")).alias("cum_gain"),
        (
            (F.col("cp").cast("double") / F.col("npos").cast("double"))
            / (F.col("cn").cast("double") / F.col("n").cast("double"))
        ).alias("cum_lift"),
    )


# --- Kruskal-Wallis rank test (r11) ----------------------------------------------------

_KW_BASE_SQL = """
WITH s AS (
  SELECT o_orderpriority AS grp, o_totalprice AS v FROM orders
),
gv AS (
  SELECT grp, v, COUNT(*) AS c FROM s GROUP BY grp, v
),
vt AS (
  SELECT v, CAST(SUM(c) AS BIGINT) AS t FROM gv GROUP BY v
),
p AS (
  SELECT v, t, COALESCE(SUM(t) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM vt
),
rg AS (
  SELECT gv.grp,
         CAST(SUM(gv.c) AS BIGINT) AS n_g,
         CAST(SUM(gv.c * (2 * p.cum_before + p.t + 1)) AS BIGINT) AS two_r
  FROM gv JOIN p ON gv.v = p.v
  GROUP BY gv.grp
),
tt AS (
  SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS sum_t,
         CAST(SUM(t) AS BIGINT) AS n
  FROM p
),
agg AS (
  SELECT COUNT(*) AS k,
         CAST(ROUND(SUM(CAST(CAST(two_r AS DOUBLE) * CAST(two_r AS DOUBLE)
              / CAST(4 * n_g AS DOUBLE) AS DECIMAL(38,8))), 8) AS DOUBLE) AS sum_term
  FROM rg
)
SELECT CAST(tt.n AS BIGINT) AS n_total,
       CAST(agg.k AS BIGINT) AS k_groups,
       CAST(agg.k - 1 AS BIGINT) AS dof,
       (12e0 * agg.sum_term
          / (CAST(tt.n AS DOUBLE) * CAST(tt.n + 1 AS DOUBLE))
        - 3e0 * CAST(tt.n + 1 AS DOUBLE))
       / (1e0 - CAST(tt.sum_t AS DOUBLE)
            / (CAST(tt.n AS DOUBLE) * CAST(tt.n AS DOUBLE) * CAST(tt.n AS DOUBLE)
               - CAST(tt.n AS DOUBLE))) AS h_stat
FROM agg CROSS JOIN tt
"""

_KW_ST, _ = chi2_pvalue_stages("h_stat", "dof")
_KW_SQL = _KW_ST.duckdb_sql(
    _KW_BASE_SQL,
    "SELECT n_total, k_groups, dof, h_stat, p_value",
)


@register("agg_kruskal_wallis", oracle=_KW_SQL, tags=("agg", "stats", "scale", "bench"))
def agg_kruskal_wallis(spark, sf_dir):
    """Kruskal-Wallis H test across order priorities on order totals —
    the k-group generalization of `agg_mann_whitney_u` (and the
    nonparametric sibling of `agg_anova_oneway`): 'did ANY priority's
    distribution shift?'. NO global window: per-(group, value) counts
    collapse the sample, the tie-averaged rank identity 2*rank(v) =
    2*cum_before(v) + t + 1 turns each group's rank sum into the exact
    integer 2*R_g, and the one global prefix (cum_before over the
    value table) runs through the range-bucketed two-phase
    decomposition (operators/prefix.py) — hash aggregates plus one
    bucket-parallel prefix at any scale. Per-group terms
    (2R_g)^2/(4 n_g) are correctly-rounded doubles of exact int64
    operands quantized to decimal(38,8) so the k-term sum is
    order-free (the chi2 idiom); H gets the standard tie correction
    1 - sum(t^3-t)/(N^3-N) and its upper-tail chi-square p-value
    Q((k-1)/2, H/2) from the shared staged IEEE incomplete-gamma
    (queries/_special.py) — hash-exact across engines."""
    from etlalchemy_spark.operators.prefix import running_global_sum

    s = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"), F.col("o_totalprice").alias("v")
    )
    # gv cut once: the rank-sum join probe below re-ran the orders
    # scan + (grp, v) aggregate that the prefix checkpoint had already
    # materialized through vt — with the cut both the value table and
    # the probe replay ONE execution (alternating same-session A/B
    # 4.28 -> 3.46 s at sf0.1/32c; carrying the cells through the
    # prefix window as an array column instead was REJECTED — the
    # wider rows through the window sort/exchange measured 0.9 s
    # slower than this shape).
    gv = s.groupBy("grp", "v").agg(F.count(F.lit(1)).alias("c")).localCheckpoint(eager=False)
    vt = gv.groupBy("v").agg(F.sum("c").cast("bigint").alias("t"))
    p = running_global_sum(
        vt, F.col("v"), [], F.col("t").cast("decimal(38,0)"), alias="_cum", n_buckets=16
    ).withColumn("cum_before", (F.col("_cum") - F.col("t")).cast("decimal(38,0)"))
    d38 = "decimal(38,0)"
    rg = (
        gv.join(p.select("v", "t", "cum_before"), "v")
        .groupBy("grp")
        .agg(
            F.sum("c").cast("bigint").alias("n_g"),
            F.sum(
                F.col("c").cast(d38)
                * (F.lit(2).cast(d38) * F.col("cum_before") + F.col("t") + 1)
            ).cast("bigint").alias("two_r"),
        )
    )
    tt = p.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint").alias("sum_t"),
        F.sum("t").cast("bigint").alias("n"),
    )
    term = (
        F.col("two_r").cast("double") * F.col("two_r").cast("double")
        / (F.lit(4) * F.col("n_g")).cast("double")
    ).cast("decimal(38,8)")
    agg = rg.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(term).cast("decimal(38,8)").cast("double").alias("sum_term"),
    )
    nd = F.col("n").cast("double")
    h = (
        F.lit(12.0) * F.col("sum_term") / (nd * (F.col("n") + 1).cast("double"))
        - F.lit(3.0) * (F.col("n") + 1).cast("double")
    ) / (
        F.lit(1.0) - F.col("sum_t").cast("double") / (nd * nd * nd - nd)
    )
    base = agg.crossJoin(F.broadcast(tt)).select(
        F.col("n").cast("bigint").alias("n_total"),
        F.col("k").cast("bigint").alias("k_groups"),
        (F.col("k") - 1).cast("bigint").alias("dof"),
        h.alias("h_stat"),
    )
    return _KW_ST.apply_spark(base.repartition(1)).select(
        "n_total", "k_groups", "dof", "h_stat", "p_value"
    )


# --- Jarque-Bera normality test (r11) --------------------------------------------------

_JB_BASE_SQL = """
WITH x AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS c FROM orders
),
m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(CAST(SUM(c) AS VARCHAR) AS DOUBLE) AS s1,
         CAST(CAST(SUM(CAST(c AS HUGEINT) * c) AS VARCHAR) AS DOUBLE) AS s2,
         CAST(CAST(SUM(CAST(c AS HUGEINT) * c * c) AS VARCHAR) AS DOUBLE) AS s3,
         CAST(CAST(SUM(CAST(c AS HUGEINT) * c * c * c) AS VARCHAR) AS DOUBLE) AS s4
  FROM x
),
mm AS (
  SELECT n, s1 / n AS mu, s2, s3, s4 FROM m
),
cm AS (
  SELECT n,
         s2 / n - mu * mu AS m2,
         s3 / n - 3e0 * mu * s2 / n + 2e0 * mu * mu * mu AS m3,
         s4 / n - 4e0 * mu * s3 / n + 6e0 * mu * mu * s2 / n
           - 3e0 * mu * mu * mu * mu AS m4
  FROM mm
),
g AS (
  SELECT n, m3 / (m2 * sqrt(m2)) AS g1, m4 / (m2 * m2) - 3e0 AS g2 FROM cm
)
SELECT CAST(n AS BIGINT) AS n_total,
       g1 AS skewness,
       g2 AS excess_kurtosis,
       n / 6e0 * (g1 * g1 + g2 * g2 / 4e0) AS jb_stat,
       CAST(2 AS BIGINT) AS dof
FROM g
"""

_JB_ST, _ = chi2_pvalue_stages("jb_stat", "dof")
_JB_SQL = _JB_ST.duckdb_sql(
    _JB_BASE_SQL,
    "SELECT n_total, skewness, excess_kurtosis, jb_stat, dof, p_value",
)


@register("agg_jarque_bera", oracle=_JB_SQL, tags=("agg", "stats"))
def agg_jarque_bera(spark, sf_dir):
    """Jarque-Bera normality test on order totals — 'can downstream
    models assume Gaussian?' answered from ONE scan: the four raw
    power sums of exact integer cents (decimal38 Spark-side, hugeint
    in DuckDB, VARCHAR-routed to double so both engines see the same
    correctly-rounded operand — the `agg_anova_oneway` idiom), then a
    fixed IEEE chain to central moments, skewness g1, excess kurtosis
    g2, JB = n/6 (g1^2 + g2^2/4), and the chi-square(2) upper tail
    from the shared staged incomplete-gamma (queries/_special.py).
    x^1.5 is spelled m2*sqrt(m2) (pow carries no cross-engine
    rounding guarantee). Map-side partial aggregation, one row out —
    the c^4 sum bounds exactness to ~sf1 corpora in decimal38;
    beyond that re-center first (documented, not silent)."""
    o = t(spark, sf_dir, "orders")
    c = (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint")
    c19 = c.cast("decimal(19,0)")
    m = o.select(
        c19.alias("c1"),
        (c19 * c19).alias("c2"),
        (c19 * c19 * c19).alias("c3"),
        ((c19 * c19) * (c19 * c19)).alias("c4"),
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("c1").cast("double").alias("s1"),
        F.sum("c2").cast("double").alias("s2"),
        F.sum("c3").cast("double").alias("s3"),
        F.sum("c4").cast("double").alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(x) for x in ("n", "s1", "s2", "s3", "s4"))
    mu = s1 / n
    m2 = s2 / n - mu * mu
    m3 = s3 / n - F.lit(3.0) * mu * s2 / n + F.lit(2.0) * mu * mu * mu
    m4 = (
        s4 / n - F.lit(4.0) * mu * s3 / n + F.lit(6.0) * mu * mu * s2 / n
        - F.lit(3.0) * mu * mu * mu * mu
    )
    g1 = m3 / (m2 * F.sqrt(m2))
    g2 = m4 / (m2 * m2) - F.lit(3.0)
    base = m.select(
        n.cast("bigint").alias("n_total"),
        g1.alias("skewness"),
        g2.alias("excess_kurtosis"),
        (n / F.lit(6.0) * (g1 * g1 + g2 * g2 / F.lit(4.0))).alias("jb_stat"),
        F.lit(2).cast("bigint").alias("dof"),
    )
    return _JB_ST.apply_spark(base.repartition(1)).select(
        "n_total", "skewness", "excess_kurtosis", "jb_stat", "dof", "p_value"
    )


# --- Kendall tau-b rank correlation (r11) ----------------------------------------------

_KENDALL_SQL = """
WITH s AS (
  SELECT CAST(l_quantity AS DECIMAL(12,2)) AS x,
         CAST(l_discount AS DECIMAL(12,2)) AS y
  FROM lineitem
),
cells AS (SELECT x, y, COUNT(*) AS c FROM s GROUP BY x, y),
n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
tx AS (
  SELECT CAST(SUM(t * (t - 1)) AS BIGINT) AS two_tx
  FROM (SELECT CAST(SUM(c) AS BIGINT) AS t FROM cells GROUP BY x)
),
ty AS (
  SELECT CAST(SUM(t * (t - 1)) AS BIGINT) AS two_ty
  FROM (SELECT CAST(SUM(c) AS BIGINT) AS t FROM cells GROUP BY y)
),
cd AS (
  SELECT
    CAST(COALESCE(SUM(CASE WHEN a.y < b.y THEN a.c * b.c END), 0) AS BIGINT) AS conc,
    CAST(COALESCE(SUM(CASE WHEN a.y > b.y THEN a.c * b.c END), 0) AS BIGINT) AS disc
  FROM cells a JOIN cells b ON a.x < b.x
)
SELECT n.n AS n_total,
       conc AS concordant,
       disc AS discordant,
       two_tx AS two_ties_x,
       two_ty AS two_ties_y,
       CAST(conc - disc AS DOUBLE) / sqrt(
           ((CAST(n.n AS DOUBLE) * CAST(n.n - 1 AS DOUBLE) - CAST(two_tx AS DOUBLE)) / 2e0)
         * ((CAST(n.n AS DOUBLE) * CAST(n.n - 1 AS DOUBLE) - CAST(two_ty AS DOUBLE)) / 2e0)
       ) AS tau_b
FROM cd CROSS JOIN n CROSS JOIN tx CROSS JOIN ty
"""


@register("agg_kendall_tau", oracle=_KENDALL_SQL, tags=("agg", "stats", "scale"))
def agg_kendall_tau(spark, sf_dir):
    """Kendall tau-b rank correlation between line quantity and
    discount — the tie-robust ordinal association measure
    (`agg_spearman_corr`'s sibling; tau is preferred when both axes
    are coarse). The O(n^2) pair enumeration NEVER happens: the fact
    table collapses to per-(x, y) VALUE cells (bounded by
    |distinct quantity| x |distinct discount| — 550 here), and
    concordant/discordant pair counts are exact-integer sums over the
    broadcast cell-table self-join (a.x < b.x enumerates each
    unordered different-x pair once; y-compare splits C from D; ties
    on either axis drop out, landing in the tau-b denominator's
    t(t-1) corrections). Everything is int64-exact until the closing
    fixed IEEE chain. Scale: fact rows only feed one hash-agg; the
    pair join is |cells|^2, independent of N."""
    li = t(spark, sf_dir, "lineitem")
    s = li.select(
        F.col("l_quantity").cast("decimal(12,2)").alias("x"),
        F.col("l_discount").cast("decimal(12,2)").alias("y"),
    )
    cells = s.groupBy("x", "y").agg(F.count(F.lit(1)).alias("c"))
    n = cells.agg(F.sum("c").cast("bigint").alias("n"))
    tx = (
        cells.groupBy("x").agg(F.sum("c").cast("bigint").alias("t"))
        .agg(F.sum(F.col("t") * (F.col("t") - 1)).cast("bigint").alias("two_tx"))
    )
    ty = (
        cells.groupBy("y").agg(F.sum("c").cast("bigint").alias("t"))
        .agg(F.sum(F.col("t") * (F.col("t") - 1)).cast("bigint").alias("two_ty"))
    )
    a = cells.select(
        F.col("x").alias("ax"), F.col("y").alias("ay"), F.col("c").alias("ac")
    )
    b = cells.select(
        F.col("x").alias("bx"), F.col("y").alias("by"), F.col("c").alias("bc")
    )
    cd = (
        a.join(F.broadcast(b), F.col("ax") < F.col("bx"))
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("ay") < F.col("by"), F.col("ac") * F.col("bc"))),
                F.lit(0),
            ).cast("bigint").alias("conc"),
            F.coalesce(
                F.sum(F.when(F.col("ay") > F.col("by"), F.col("ac") * F.col("bc"))),
                F.lit(0),
            ).cast("bigint").alias("disc"),
        )
    )
    nd = F.col("n").cast("double")
    half_x = (nd * (F.col("n") - 1).cast("double") - F.col("two_tx").cast("double")) / F.lit(2.0)
    half_y = (nd * (F.col("n") - 1).cast("double") - F.col("two_ty").cast("double")) / F.lit(2.0)
    return (
        cd.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .select(
            F.col("n").alias("n_total"),
            F.col("conc").alias("concordant"),
            F.col("disc").alias("discordant"),
            F.col("two_tx").alias("two_ties_x"),
            F.col("two_ty").alias("two_ties_y"),
            ((F.col("conc") - F.col("disc")).cast("double")
             / F.sqrt(half_x * half_y)).alias("tau_b"),
        )
    )


# --- Brown-Forsythe variance-equality test (r11) ---------------------------------------

_BF_BASE_SQL = """
WITH x AS (
  SELECT o_orderpriority AS grp,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
  FROM orders
),
gv AS (SELECT grp, v, COUNT(*) AS c FROM x GROUP BY grp, v),
p AS (
  SELECT grp, v, c,
         SUM(c) OVER (PARTITION BY grp ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(c) OVER (PARTITION BY grp) AS n_g
  FROM gv
),
med AS (
  SELECT grp, MIN(v) AS med
  FROM p WHERE cum >= (n_g + 1) // 2
  GROUP BY grp
),
z AS (
  SELECT p.grp, p.c, ABS(p.v - med.med) AS z
  FROM p JOIN med ON p.grp = med.grp
),
g AS (
  SELECT grp, CAST(SUM(c) AS BIGINT) AS n,
         SUM(CAST(c AS HUGEINT) * z) AS s,
         SUM(CAST(c AS HUGEINT) * z * z) AS q
  FROM z GROUP BY grp
),
terms AS (
  SELECT grp, n, s, q,
         CAST(CAST(CAST(CAST(s AS HUGEINT) * s AS VARCHAR) AS DOUBLE)
              / CAST(n AS DOUBLE) AS DECIMAL(38,8)) AS term
  FROM g
),
a AS (
  SELECT COUNT(*) AS k, SUM(n) AS nn, SUM(s) AS ss, SUM(q) AS qq,
         CAST(CAST(SUM(term) AS VARCHAR) AS DOUBLE) AS st
  FROM terms
)
SELECT CAST(k AS BIGINT) AS k_groups,
       CAST(nn AS BIGINT) AS n_total,
       ((st - CAST(CAST(CAST(ss AS HUGEINT) * ss AS VARCHAR) AS DOUBLE)
              / CAST(nn AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
       / ((CAST(CAST(qq AS VARCHAR) AS DOUBLE) - st)
          / CAST(nn - k AS DOUBLE)) AS w_stat
FROM a
"""

_BF_ST = SqlStages()
_BF_ST.add("CAST(k_groups - 1 AS DOUBLE)", name="_d1")
_BF_ST.add("CAST(n_total - k_groups AS DOUBLE)", name="_d2")
_BF_ST, _ = f_pvalue_stages("w_stat", "_d1", "_d2", st=_BF_ST)
_BF_SQL = _BF_ST.duckdb_sql(
    _BF_BASE_SQL, "SELECT k_groups, n_total, w_stat, p_value"
)


@register("agg_brown_forsythe", oracle=_BF_SQL, tags=("agg", "stats", "scale"))
def agg_brown_forsythe(spark, sf_dir):
    """Brown-Forsythe variance-equality test across order priorities
    (the median-centered Levene test — 'is `agg_anova_oneway`'s
    equal-variance premise even true?'). NO fact-table sort: rows
    collapse to per-(group, value) cells; each group's LOWER median
    is the order statistic the per-group cumulative (over value rows,
    the `agg_spearman_corr` window shape) first reaches at rank
    ceil(n/2); deviations z = |v - median| stay exact integers, and
    the one-way ANOVA on z reuses `agg_anova_oneway`'s exact
    sufficient-statistic idiom verbatim (int128/decimal38 power sums,
    VARCHAR-routed doubles, per-group terms quantized to
    decimal(38,8)). F(k-1, N-k) upper tail from the shared staged
    IEEE incomplete-beta. Cost: two hash-aggs + one value-table
    window + a 5-row broadcast join back."""
    from pyspark.sql import Window as W

    o = t(spark, sf_dir, "orders")
    x = o.select(
        F.col("o_orderpriority").alias("grp"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint").alias("v"),
    )
    gv = x.groupBy("grp", "v").agg(F.count(F.lit(1)).alias("c"))
    wcum = W.partitionBy("grp").orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.partitionBy("grp")
    p = gv.select(
        "grp", "v", "c",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall).alias("n_g"),
    )
    # the group's lower median, attached by one more window over the
    # already-sorted value rows (no join-back, no recomputed subtree)
    med = F.min(
        F.when(F.col("cum") >= F.floor((F.col("n_g") + 1) / 2), F.col("v"))
    ).over(wall)
    z = p.select("grp", "c", F.abs(F.col("v") - med).alias("z"))
    c19 = F.col("c").cast("decimal(19,0)")
    z19 = F.col("z").cast("decimal(19,0)")
    g = z.groupBy("grp").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(c19 * z19).alias("s"),
        F.sum(c19 * z19 * z19).alias("q"),
    )
    term = (
        (F.col("s").cast("decimal(38,0)") * F.col("s").cast("decimal(38,0)"))
        .cast("double") / F.col("n").cast("double")
    ).cast("decimal(38,8)")
    a = g.select("n", "s", "q", term.alias("term")).agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nn"),
        F.sum("s").cast("decimal(38,0)").alias("ss"),
        F.sum("q").cast("decimal(38,0)").alias("qq"),
        F.sum("term").cast("double").alias("st"),
    )
    grand = (F.col("ss") * F.col("ss")).cast("double") / F.col("nn").cast("double")
    base = a.select(
        F.col("k").cast("bigint").alias("k_groups"),
        F.col("nn").cast("bigint").alias("n_total"),
        (
            ((F.col("st") - grand) / (F.col("k") - 1).cast("double"))
            / ((F.col("qq").cast("double") - F.col("st"))
               / (F.col("nn") - F.col("k")).cast("double"))
        ).alias("w_stat"),
    )
    return _BF_ST.apply_spark(base.repartition(1)).select(
        "k_groups", "n_total", "w_stat", "p_value"
    )


# --- Theil-Sen robust trend slope (r11) ------------------------------------------------

_THEILSEN_SQL = """
WITH w AS (
  SELECT o_orderpriority AS grp,
         CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
              AS BIGINT) // 7 AS x,
         SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS y
  FROM orders GROUP BY 1, 2
),
pairs AS (
  SELECT a.grp,
         (CAST(b.y AS DOUBLE) - CAST(a.y AS DOUBLE))
           / CAST(b.x - a.x AS DOUBLE) AS slope
  FROM w a JOIN w b ON a.grp = b.grp AND a.x < b.x
),
r AS (
  SELECT grp, slope,
         ROW_NUMBER() OVER (PARTITION BY grp ORDER BY slope) AS rn,
         COUNT(*) OVER (PARTITION BY grp) AS m
  FROM pairs
)
SELECT grp, CAST(MAX(m) AS BIGINT) AS n_pairs,
       MAX(CASE WHEN rn = (m + 1) // 2 THEN slope END) AS sen_slope
FROM r GROUP BY grp ORDER BY grp
"""


@register("agg_theil_sen", oracle=_THEILSEN_SQL, tags=("agg", "stats"))
def agg_theil_sen(spark, sf_dir):
    """Theil-Sen robust trend slope of weekly revenue per order
    priority — the median of all pairwise slopes, the regression
    `agg_ols_by_group` reaches for when outlier weeks wreck least
    squares (breakdown point 29%). The fact table first collapses to
    the weekly series (week = days-since-epoch // 7, arithmetic so
    both engines bucket identically — never date_trunc, whose week
    convention is dialect lore); the O(n^2) pair space is over WEEKS,
    bounded by the calendar (~400/group here), never over fact rows.
    Slopes are exact-operand IEEE divisions; the per-group median is
    the LOWER order statistic (rank (m+1)//2), a real slope value —
    no interpolation. Scale: one hash-agg over facts, then a
    calendar-bounded self-join + per-group window over pair rows."""
    from pyspark.sql import Window as W

    o = t(spark, sf_dir, "orders")
    w = (
        o.groupBy(
            F.col("o_orderpriority").alias("grp"),
            F.floor(
                F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date")) / 7
            ).cast("bigint").alias("x"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("y"))
    )
    a = w.select(F.col("grp"), F.col("x").alias("ax"), F.col("y").alias("ay"))
    b = w.select(F.col("grp"), F.col("x").alias("bx"), F.col("y").alias("by"))
    pairs = a.join(F.broadcast(b), ["grp"]).where(F.col("ax") < F.col("bx")).select(
        "grp",
        (
            (F.col("by").cast("double") - F.col("ay").cast("double"))
            / (F.col("bx") - F.col("ax")).cast("double")
        ).alias("slope"),
    )
    win = W.partitionBy("grp").orderBy("slope")
    r = pairs.select(
        "grp", "slope",
        F.row_number().over(win).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("grp")).alias("m"),
    )
    return (
        r.groupBy("grp")
        .agg(
            F.max("m").cast("bigint").alias("n_pairs"),
            F.max(
                F.when(F.col("rn") == F.floor((F.col("m") + 1) / 2), F.col("slope"))
            ).alias("sen_slope"),
        )
        .orderBy("grp")
    )


# --- Cohen's d / Hedges' g effect sizes (r11) --------------------------------------------

_EFFECT_SQL = """
WITH x AS (
  SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 'A' ELSE 'B' END AS grp,
         CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
),
g AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n, SUM(cents) AS s,
         SUM(CAST(cents AS HUGEINT) * cents) AS q
  FROM x GROUP BY grp
),
p AS (
  SELECT MAX(CASE WHEN grp = 'A' THEN n END) AS n1,
         MAX(CASE WHEN grp = 'B' THEN n END) AS n2,
         MAX(CASE WHEN grp = 'A'
             THEN CAST(CAST(s AS VARCHAR) AS DOUBLE) END) AS s1,
         MAX(CASE WHEN grp = 'B'
             THEN CAST(CAST(s AS VARCHAR) AS DOUBLE) END) AS s2,
         MAX(CASE WHEN grp = 'A'
             THEN CAST(CAST(q AS VARCHAR) AS DOUBLE) END) AS q1,
         MAX(CASE WHEN grp = 'B'
             THEN CAST(CAST(q AS VARCHAR) AS DOUBLE) END) AS q2
  FROM g
),
e AS (
  SELECT n1, n2,
         s1 / CAST(n1 AS DOUBLE) - s2 / CAST(n2 AS DOUBLE) AS md,
         (q1 - s1 * s1 / CAST(n1 AS DOUBLE))
         + (q2 - s2 * s2 / CAST(n2 AS DOUBLE)) AS css
  FROM p
)
SELECT n1 AS n_a, n2 AS n_b,
       md / 1e2 AS mean_diff_dollars,
       md / sqrt(css / CAST(n1 + n2 - 2 AS DOUBLE)) AS cohens_d,
       md / sqrt(css / CAST(n1 + n2 - 2 AS DOUBLE))
         * (1e0 - 3e0 / CAST(4 * (n1 + n2) - 9 AS DOUBLE)) AS hedges_g
FROM e
"""


@register("agg_effect_sizes", oracle=_EFFECT_SQL, tags=("agg", "stats"))
def agg_effect_sizes(spark, sf_dir):
    """Cohen's d and Hedges' g between two customer segments on order
    totals — the EFFECT-SIZE companion `agg_welch_ttest`'s p-value
    needs (significance without magnitude misleads at scale: at 10^9
    rows everything is 'significant'). Same exact sufficient
    statistics (n, sum-cents, sum-squared-cents as int64/hugeint,
    VARCHAR-routed doubles), pooled-SD denominator, and the small-n
    bias correction g = d(1 - 3/(4N - 9)) as one fixed IEEE chain.
    d is scale-invariant so cents need no unit conversion; the mean
    difference ships in dollars. One scan, one 2-row reduce."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    x = (
        o.join(c, o.o_custkey == c.c_custkey)
        .where(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            F.when(F.col("c_mktsegment") == "BUILDING", "A").otherwise("B").alias("grp"),
            (F.col("o_totalprice").cast("decimal(12,2)") * 100)
            .cast("bigint").alias("cents"),
        )
    )
    c19 = F.col("cents").cast("decimal(19,0)")
    g = x.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("decimal(38,0)").alias("s"),
        F.sum(c19 * c19).cast("decimal(38,0)").alias("q"),
    )
    pick = lambda grp, col: F.max(F.when(F.col("grp") == grp, F.col(col)))  # noqa: E731
    p = g.agg(
        pick("A", "n").alias("n1"), pick("B", "n").alias("n2"),
        pick("A", "s").cast("double").alias("s1"),
        pick("B", "s").cast("double").alias("s2"),
        pick("A", "q").cast("double").alias("q1"),
        pick("B", "q").cast("double").alias("q2"),
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    md = F.col("s1") / n1d - F.col("s2") / n2d
    css = (F.col("q1") - F.col("s1") * F.col("s1") / n1d) + (
        F.col("q2") - F.col("s2") * F.col("s2") / n2d
    )
    d = md / F.sqrt(css / (F.col("n1") + F.col("n2") - 2).cast("double"))
    return p.select(
        F.col("n1").alias("n_a"),
        F.col("n2").alias("n_b"),
        (md / F.lit(100.0)).alias("mean_diff_dollars"),
        d.alias("cohens_d"),
        (
            d * (F.lit(1.0) - F.lit(3.0)
                 / (4 * (F.col("n1") + F.col("n2")) - 9).cast("double"))
        ).alias("hedges_g"),
    )


# --- Bayesian A/B probability (r11) ------------------------------------------------------

_BAYES_AB_BASE_SQL = """
WITH u AS (
  SELECT user_id,
         CAST(user_id % 2 AS INT) AS arm,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
),
g AS (
  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(conv) AS BIGINT) AS s
  FROM u GROUP BY arm
),
p AS (
  SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n_a,
         MAX(CASE WHEN arm = 0 THEN s END) AS s_a,
         MAX(CASE WHEN arm = 1 THEN n END) AS n_b,
         MAX(CASE WHEN arm = 1 THEN s END) AS s_b
  FROM g
),
m AS (
  SELECT n_a, s_a, n_b, s_b,
         CAST(s_a + 1 AS DOUBLE) / CAST(n_a + 2 AS DOUBLE) AS mu_a,
         CAST(s_b + 1 AS DOUBLE) / CAST(n_b + 2 AS DOUBLE) AS mu_b,
         CAST((s_a + 1) * (n_a - s_a + 1) AS DOUBLE)
           / (CAST((n_a + 2) * (n_a + 2) AS DOUBLE) * CAST(n_a + 3 AS DOUBLE)) AS var_a,
         CAST((s_b + 1) * (n_b - s_b + 1) AS DOUBLE)
           / (CAST((n_b + 2) * (n_b + 2) AS DOUBLE) * CAST(n_b + 3 AS DOUBLE)) AS var_b
  FROM p
)
SELECT n_a, s_a, n_b, s_b, mu_a, mu_b,
       (mu_a - mu_b) / sqrt(var_a + var_b) AS z
FROM m
"""


def _bayes_ab_sql() -> str:
    st = SqlStages()
    s = st.add("5e-1")
    x = st.add("CAST(z AS DOUBLE) * CAST(z AS DOUBLE) / 2e0")
    q = st.gammainc_q(s, x)
    st.add(
        f"CASE WHEN z >= 0e0 THEN 1e0 - {q} / 2e0 ELSE {q} / 2e0 END",
        name="p_a_beats_b",
    )
    return st.compact(keep=("p_a_beats_b",)).duckdb_sql(
        _BAYES_AB_BASE_SQL,
        "SELECT n_a, s_a, n_b, s_b, mu_a, mu_b, z, p_a_beats_b",
    )


@register("agg_bayes_ab_prob", oracle=_bayes_ab_sql(), tags=("agg", "stats"))
def agg_bayes_ab_prob(spark, sf_dir):
    """Bayesian A/B read-out P(arm A converts better than arm B):
    users hash-split by parity, conversion = any purchase event,
    Beta(1+s, 1+n-s) posteriors whose mean/variance are exact
    rationals of int64 counts, and the posterior-difference normal
    approximation's Phi(z) comes from the shared staged IEEE
    incomplete-gamma via erfc(|z|/sqrt(2)) = Q(1/2, z^2/2) — so the
    'probability B is a mistake' number product teams actually read
    is hash-exact across engines (the decision-layer companion to
    `agg_permutation_test`'s frequentist p). One user-grain hash-agg
    + a 2-row reduce at any scale."""
    ev = t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv")
    ).select((F.col("user_id") % 2).cast("int").alias("arm"), "conv")
    g = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("conv").cast("bigint").alias("s"),
    )
    pick = lambda a, col: F.max(F.when(F.col("arm") == a, F.col(col)))  # noqa: E731
    p = g.agg(
        pick(0, "n").alias("n_a"), pick(0, "s").alias("s_a"),
        pick(1, "n").alias("n_b"), pick(1, "s").alias("s_b"),
    )
    mu = lambda s, n: (s + 1).cast("double") / (n + 2).cast("double")  # noqa: E731
    var = lambda s, n: (  # noqa: E731
        ((s + 1) * (n - s + 1)).cast("double")
        / (((n + 2) * (n + 2)).cast("double") * (n + 3).cast("double"))
    )
    sa, na = F.col("s_a"), F.col("n_a")
    sb, nb = F.col("s_b"), F.col("n_b")
    base = p.select(
        "n_a", "s_a", "n_b", "s_b",
        mu(sa, na).alias("mu_a"), mu(sb, nb).alias("mu_b"),
        (
            (mu(sa, na) - mu(sb, nb)) / F.sqrt(var(sa, na) + var(sb, nb))
        ).alias("z"),
    )
    st = SqlStages()
    s_ = st.add("5e-1")
    x_ = st.add("CAST(z AS DOUBLE) * CAST(z AS DOUBLE) / 2e0")
    q_ = st.gammainc_q(s_, x_)
    st.add(
        f"CASE WHEN z >= 0e0 THEN 1e0 - {q_} / 2e0 ELSE {q_} / 2e0 END",
        name="p_a_beats_b",
    )
    return st.compact(keep=("p_a_beats_b",)).apply_spark(
        base.repartition(1)
    ).select("n_a", "s_a", "n_b", "s_b", "mu_a", "mu_b", "z", "p_a_beats_b")


# --- Average precision / AUPRC (r11) ------------------------------------------------------

_AP_SQL = """
WITH s AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS pos
  FROM orders
),
g AS (
  SELECT v, CAST(SUM(pos) AS BIGINT) AS p, CAST(COUNT(*) AS BIGINT) AS t
  FROM s GROUP BY v
),
c AS (
  SELECT v, p, t,
         COALESCE(SUM(p) OVER (ORDER BY v DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pb,
         COALESCE(SUM(t) OVER (ORDER BY v DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tb
  FROM g
),
q AS (
  SELECT p, t, pb, tb,
         CAST(FLOOR(CAST(p * (pb + p) AS DOUBLE) / CAST(tb + t AS DOUBLE)
                    * CAST(1000000000000.0 AS DOUBLE)) AS BIGINT) AS term
  FROM c
),
a AS (
  SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
         CAST(SUM(t) AS BIGINT) AS n_total,
         CAST(SUM(term) AS BIGINT) AS num
  FROM q
)
SELECT n_pos, n_total,
       CAST(n_pos AS DOUBLE) / CAST(n_total AS DOUBLE) AS prevalence,
       CAST(num AS DOUBLE) / CAST(1000000000000.0 AS DOUBLE)
         / CAST(n_pos AS DOUBLE) AS avg_precision
FROM a
"""


@register("agg_average_precision", oracle=_AP_SQL, tags=("agg", "stats", "scale", "bench"))
def agg_average_precision(spark, sf_dir):
    """Average precision (area under the precision-recall curve) of
    the order-total score against the urgent-priority label —
    `agg_auc_roc`'s imbalance-robust sibling (PR is the curve that
    matters when positives are rare, the usual shape of quality
    labels). Group-granular convention, documented: ties share the
    precision at their GROUP boundary, prec_v = (P_above + p_v) /
    (N_above + t_v), AP = sum p_v * prec_v / P_total. The fact table
    collapses to per-score-value (p, t) cells; ONE bucket-parallel
    prefix (operators/prefix.py, both cumulatives in one pass)
    supplies the above-group counts; each group term has exact int64
    operands pushed through one correctly-rounded division and
    floor-quantized to 1e-12, so the cross-group sum is an exact
    integer — order-free. One hash agg + one prefix + a one-row
    reduce at any scale."""
    from etlalchemy_spark.operators.prefix import running_global_sums

    o = t(spark, sf_dir, "orders")
    s = o.select(
        (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint").alias("v"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int").alias("pos"),
    )
    g = s.groupBy("v").agg(
        F.sum("pos").cast("bigint").alias("p"),
        F.count(F.lit(1)).cast("bigint").alias("t"),
    )
    d38 = "decimal(38,0)"
    c = running_global_sums(
        g,
        -F.col("v"),  # descending score order
        [],
        [(F.col("p").cast(d38), "_cump"), (F.col("t").cast(d38), "_cumt")],
        n_buckets=16,
    )
    c = c.select(
        "p", "t",
        (F.col("_cump") - F.col("p")).cast(d38).alias("pb"),
        (F.col("_cumt") - F.col("t")).cast(d38).alias("tb"),
    )
    term = F.floor(
        (F.col("p") * (F.col("pb") + F.col("p"))).cast("double")
        / (F.col("tb") + F.col("t")).cast("double")
        * F.lit(1000000000000.0)
    ).cast("bigint")
    a = c.agg(
        F.sum("p").cast("bigint").alias("n_pos"),
        F.sum("t").cast("bigint").alias("n_total"),
        F.sum(term).cast("bigint").alias("num"),
    )
    return a.select(
        "n_pos", "n_total",
        (F.col("n_pos").cast("double") / F.col("n_total").cast("double"))
        .alias("prevalence"),
        (
            F.col("num").cast("double") / F.lit(1000000000000.0)
            / F.col("n_pos").cast("double")
        ).alias("avg_precision"),
    )


# --- exact correlation matrix (r11) --------------------------------------------------------

_CORRM_COLS = [
    ("qty", "CAST(l_quantity AS DECIMAL(12,2))"),
    ("price", "CAST(l_extendedprice AS DECIMAL(12,2))"),
    ("disc", "CAST(l_discount AS DECIMAL(12,2))"),
    ("tax", "CAST(l_tax AS DECIMAL(12,2))"),
]


def _corrm_sql() -> str:
    names = [n for n, _ in _CORRM_COLS]
    # VARCHAR-routed doubles: at sf0.1 the product sums outgrow
    # int64-backed decimals and DuckDB's hugeint->double conversion is
    # not correctly rounded (the agg_anova_oneway lesson — 1-ulp
    # mismatches); strtod through the decimal's text IS
    sums = ",\n         ".join(
        f"CAST(CAST(ROUND(SUM({e}), 4) AS VARCHAR) AS DOUBLE) AS s_{n}"
        for n, e in _CORRM_COLS
    )
    prods = ",\n         ".join(
        f"CAST(CAST(ROUND(SUM({_CORRM_COLS[i][1]} * {_CORRM_COLS[j][1]}), 4)"
        f" AS VARCHAR) AS DOUBLE) AS p_{names[i]}_{names[j]}"
        for i in range(4) for j in range(i, 4)
    )
    def css(i, j):
        a, b = names[i], names[j]
        key = f"p_{a}_{b}" if i <= j else f"p_{b}_{a}"
        return f"({key} - s_{a} * s_{b} / n)"
    pairs = "\n  UNION ALL\n".join(
        f"  SELECT '{names[i]}' AS col_a, '{names[j]}' AS col_b,\n"
        f"         {css(i, j)} / sqrt({css(i, i)} * {css(j, j)}) AS corr\n"
        f"  FROM m"
        for i in range(4) for j in range(i + 1, 4)
    )
    return f"""
WITH m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         {sums},
         {prods}
  FROM lineitem
)
{pairs}
ORDER BY col_a, col_b
"""


@register("agg_corr_matrix", oracle=_corrm_sql(), tags=("agg", "stats"))
def agg_corr_matrix(spark, sf_dir):
    """The full 4x4 Pearson correlation matrix of lineitem's numeric
    columns in ONE scan — `agg_corr_exact` asked of every pair at once
    (feature-selection's first look; k columns need k(k+1)/2 product
    sums, never k^2 passes). All 14 moment sums are exact decimal
    reductions in a single map-side-combined aggregate; each closing
    correlation is one fixed IEEE chain over the shared sums. Emits
    the 6 upper-triangle pairs as rows."""
    li = t(spark, sf_dir, "lineitem")
    cols = {
        "qty": F.col("l_quantity").cast("decimal(12,2)"),
        "price": F.col("l_extendedprice").cast("decimal(12,2)"),
        "disc": F.col("l_discount").cast("decimal(12,2)"),
        "tax": F.col("l_tax").cast("decimal(12,2)"),
    }
    names = list(cols)
    d = lambda c: F.sum(c).cast("decimal(38,4)").cast("double")  # noqa: E731
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    aggs += [d(cols[n]).alias(f"s_{n}") for n in names]
    aggs += [
        d(cols[names[i]] * cols[names[j]]).alias(f"p_{names[i]}_{names[j]}")
        for i in range(4) for j in range(i, 4)
    ]
    m = li.agg(*aggs)

    def css(i, j):
        a, b = names[i], names[j]
        key = f"p_{a}_{b}" if i <= j else f"p_{b}_{a}"
        return F.col(key) - F.col(f"s_{a}") * F.col(f"s_{b}") / F.col("n")

    # all 6 correlations as columns of the ONE aggregate row, then
    # stack() to rows — a unionAll of per-pair selects would re-run
    # the full-scan aggregate once per branch
    wide = m.select(
        *[
            (css(i, j) / F.sqrt(css(i, i) * css(j, j))).alias(f"c_{i}_{j}")
            for i in range(4) for j in range(i + 1, 4)
        ]
    )
    stack_args = ", ".join(
        f"'{names[i]}', '{names[j]}', c_{i}_{j}"
        for i in range(4) for j in range(i + 1, 4)
    )
    return wide.selectExpr(
        f"stack(6, {stack_args}) AS (col_a, col_b, corr)"
    ).orderBy("col_a", "col_b")


# --- Breusch-Pagan heteroskedasticity test (r11) --------------------------------------------


def _bp_stages():
    """Stages computing the Breusch-Pagan LM statistic from the raw
    moment columns s_pq = sum(x^p y^q), p+q <= 4 (exact int64 at the
    chosen scales). The residual power sums expand via the multinomial
    identity e = y - c0 - c1*x, GENERATED here (not hand-expanded) so
    both engines replay one identical coefficient-by-coefficient
    chain: sum e^2, sum e^2 x, sum e^4 as polynomials in (c0, c1) and
    the s_pq; then R^2 of the e^2-on-x auxiliary regression and
    LM = n * R^2 ~ chi-square(1)."""
    from math import comb

    st = SqlStages(prefix="_bp")
    n = "CAST(s_00 AS DOUBLE)"
    s = lambda p, q: f"CAST(s_{p}{q} AS DOUBLE)"  # noqa: E731
    c1 = st.add(
        f"({n} * {s(1,1)} - {s(1,0)} * {s(0,1)})"
        f" / ({n} * {s(2,0)} - {s(1,0)} * {s(1,0)})"
    )
    c0 = st.add(f"({s(0,1)} - {c1} * {s(1,0)}) / {n}")

    def e_pow_sum(power: int, extra_x: int, name: str) -> str:
        # sum over rows of e^power * x^extra_x, via
        # e^power = sum_k C(power,k) y^k (-c0 - c1 x)^(power-k)
        terms = []
        for k in range(power + 1):
            m = power - k
            for j in range(m + 1):
                coeff = comb(power, k) * comb(m, j)
                sign = (-1) ** m  # (-c0)^(m-j) * (-c1)^j carries (-1)^m
                p_x = j + extra_x
                c0pow = " * ".join([c0] * (m - j)) if m - j else "1e0"
                c1pow = " * ".join([c1] * j) if j else "1e0"
                terms.append(
                    f"({sign * coeff}e0 * {c0pow} * {c1pow} * {s(p_x, k)})"
                )
        return st.add(" + ".join(terms), name=name)

    a2 = e_pow_sum(2, 0, "_se2")    # sum e^2
    b2 = e_pow_sum(2, 1, "_se2x")   # sum e^2 x
    c4 = e_pow_sum(4, 0, "_se4")    # sum e^4
    suu = st.add(f"{c4} - {a2} * {a2} / {n}")
    sux = st.add(f"{b2} - {a2} * {s(1,0)} / {n}")
    sxx = st.add(f"{s(2,0)} - {s(1,0)} * {s(1,0)} / {n}")
    st.add(f"{n} * ({sux} * {sux}) / ({suu} * {sxx})", name="bp_stat", pin=True)
    st.add("CAST(1 AS BIGINT)", name="dof", pin=True)
    return chi2_pvalue_stages("bp_stat", "dof", st=st)[0]


def _bp_base_sql() -> str:
    cols = []
    for p in range(5):
        for q in range(5 - p):
            xs = " * ".join(["x"] * p) if p else "1"
            ys = " * ".join(["y"] * q) if q else "1"
            cols.append(f"CAST(SUM({xs} * {ys}) AS BIGINT) AS s_{p}{q}")
    return f"""
WITH v AS (
  SELECT CAST(CAST(l_quantity AS DECIMAL(12,2)) AS BIGINT) AS x,
         CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
  FROM lineitem
)
SELECT {', '.join(cols)} FROM v
"""


_BP_ST = _bp_stages()
_BP_SQL = _BP_ST.duckdb_sql(
    _bp_base_sql(), "SELECT s_00 AS n_rows, bp_stat, dof, p_value"
)


@register("agg_breusch_pagan", oracle=_BP_SQL, tags=("agg", "stats"))
def agg_breusch_pagan(spark, sf_dir):
    """Breusch-Pagan heteroskedasticity test on the discount-vs-
    quantity regression — 'are `agg_ols_by_group`'s standard errors
    even valid?' (non-constant residual variance silently invalidates
    OLS inference; every serious regression readout runs BP first).
    ONE scan collects the 15 exact int64 moment sums s_pq =
    sum(x^p y^q), p+q <= 4 (small integer domains keep even the
    degree-4 sums < 2^53); the residual power sums sum e^2, sum e^2 x,
    sum e^4 expand via a GENERATED multinomial chain (no hand algebra
    to get wrong), the auxiliary e^2-on-x R^2 closes in one fixed IEEE
    tree, and LM = n R^2 gets its chi-square(1) tail from the shared
    staged incomplete-gamma. Hash-exact across engines."""
    li = t(spark, sf_dir, "lineitem")
    v = li.select(
        F.col("l_quantity").cast("decimal(12,2)").cast("bigint").alias("x"),
        (F.col("l_discount").cast("decimal(12,2)") * 100).cast("bigint").alias("y"),
    )
    aggs = []
    for p in range(5):
        for q in range(5 - p):
            expr = F.lit(1).cast("bigint")
            for _ in range(p):
                expr = expr * F.col("x")
            for _ in range(q):
                expr = expr * F.col("y")
            aggs.append(F.sum(expr).cast("bigint").alias(f"s_{p}{q}"))
    base = v.agg(*aggs)
    return _BP_ST.apply_spark(base.repartition(1)).select(
        F.col("s_00").alias("n_rows"), "bp_stat", "dof", "p_value"
    )


# --- Cochran's Q test (r11) -----------------------------------------------------------------

_COCHRAN_BASE_SQL = """
WITH u AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS t1,
         MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS t2,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS t3
  FROM events GROUP BY user_id, CAST(ts AS DATE)
),
a AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(t1) AS BIGINT) AS c1,
         CAST(SUM(t2) AS BIGINT) AS c2,
         CAST(SUM(t3) AS BIGINT) AS c3,
         CAST(SUM(t1 + t2 + t3) AS BIGINT) AS sr,
         CAST(SUM((t1 + t2 + t3) * (t1 + t2 + t3)) AS BIGINT) AS sr2
  FROM u
)
SELECT n, c1, c2, c3,
       CAST(2 AS BIGINT) AS dof,
       3e0 * 2e0 * (CAST(3 * (c1 * c1 + c2 * c2 + c3 * c3) - sr * sr AS DOUBLE) / 3e0)
         / CAST(3 * sr - sr2 AS DOUBLE) AS q_stat
FROM a
"""

_COCHRAN_ST, _ = chi2_pvalue_stages("q_stat", "dof")
_COCHRAN_SQL = _COCHRAN_ST.duckdb_sql(
    _COCHRAN_BASE_SQL,
    "SELECT n, c1, c2, c3, dof, q_stat, p_value",
)


@register("agg_cochran_q", oracle=_COCHRAN_SQL, tags=("agg", "stats"))
def agg_cochran_q(spark, sf_dir):
    """Cochran's Q test across three CORRELATED binary outcomes per
    USER-DAY subject (on an active day, did the user view / click /
    purchase — the same subject under k treatments, so
    `agg_chi2_independence`'s independent-samples assumption is wrong
    and McNemar only handles k=2; user-day grain keeps the outcomes
    non-degenerate where whole-history flags saturate to all-ones): Q =
    k(k-1) sum_j (C_j - N/k)^2 / (k sum R_i - sum R_i^2), rewritten so
    the numerator's centered sum is the pure integer
    (k sum C_j^2 - (sum R)^2)/k — every operand exact int64 from one
    user-grain reduce, one fixed IEEE chain, chi-square(k-1) tail from
    the shared staged incomplete-gamma. One hash-agg at any scale."""
    ev = t(spark, sf_dir, "events")
    u = ev.groupBy("user_id", F.col("ts").cast("date").alias("d")).agg(
        *[
            F.max(F.when(F.col("event_type") == et, 1).otherwise(0)).alias(f"t{i}")
            for i, et in enumerate(("view", "click", "purchase"), 1)
        ]
    )
    r = (F.col("t1") + F.col("t2") + F.col("t3"))
    a = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t1").cast("bigint").alias("c1"),
        F.sum("t2").cast("bigint").alias("c2"),
        F.sum("t3").cast("bigint").alias("c3"),
        F.sum(r).cast("bigint").alias("sr"),
        F.sum(r * r).cast("bigint").alias("sr2"),
    )
    c1, c2, c3 = F.col("c1"), F.col("c2"), F.col("c3")
    num = (3 * (c1 * c1 + c2 * c2 + c3 * c3) - F.col("sr") * F.col("sr")).cast("double") / F.lit(3.0)
    q = F.lit(3.0) * F.lit(2.0) * num / (3 * F.col("sr") - F.col("sr2")).cast("double")
    base = a.select(
        "n", "c1", "c2", "c3",
        F.lit(2).cast("bigint").alias("dof"),
        q.alias("q_stat"),
    )
    return _COCHRAN_ST.apply_spark(base.repartition(1)).select(
        "n", "c1", "c2", "c3", "dof", "q_stat", "p_value"
    )


# --- Friedman test (r11) ----------------------------------------------------------------------

_FRIEDMAN_BASE_SQL = """
WITH u AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x1,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x2,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x3,
         COUNT(*) AS n_ev
  FROM events GROUP BY user_id, CAST(ts AS DATE)
),
r AS (
  SELECT
    2 * (CASE WHEN x2 < x1 THEN 1 ELSE 0 END + CASE WHEN x3 < x1 THEN 1 ELSE 0 END)
      + (CASE WHEN x2 = x1 THEN 1 ELSE 0 END + CASE WHEN x3 = x1 THEN 1 ELSE 0 END) + 2 AS r1,
    2 * (CASE WHEN x1 < x2 THEN 1 ELSE 0 END + CASE WHEN x3 < x2 THEN 1 ELSE 0 END)
      + (CASE WHEN x1 = x2 THEN 1 ELSE 0 END + CASE WHEN x3 = x2 THEN 1 ELSE 0 END) + 2 AS r2,
    2 * (CASE WHEN x1 < x3 THEN 1 ELSE 0 END + CASE WHEN x2 < x3 THEN 1 ELSE 0 END)
      + (CASE WHEN x1 = x3 THEN 1 ELSE 0 END + CASE WHEN x2 = x3 THEN 1 ELSE 0 END) + 2 AS r3
  FROM u
),
a AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(r1) AS BIGINT) AS s1,
         CAST(SUM(r2) AS BIGINT) AS s2,
         CAST(SUM(r3) AS BIGINT) AS s3,
         CAST(SUM(r1 * r1 + r2 * r2 + r3 * r3) AS BIGINT) AS q
  FROM r
)
SELECT n, CAST(2 AS BIGINT) AS dof,
       2e0 * CAST(s1 * s1 + s2 * s2 + s3 * s3 - 48 * n * n AS DOUBLE)
         / CAST(q - 48 * n AS DOUBLE) AS fr_stat
FROM a
"""

_FRIEDMAN_ST, _ = chi2_pvalue_stages("fr_stat", "dof")
_FRIEDMAN_SQL = _FRIEDMAN_ST.duckdb_sql(
    _FRIEDMAN_BASE_SQL, "SELECT n, dof, fr_stat, p_value"
)


@register("agg_friedman_test", oracle=_FRIEDMAN_SQL, tags=("agg", "stats"))
def agg_friedman_test(spark, sf_dir):
    """Friedman rank test across the three per-user-day event-type
    counts — `agg_cochran_q`'s ordinal sibling (Cochran sees binary
    did/didn't; Friedman ranks HOW MUCH within each subject, so
    magnitude shifts Cochran is blind to register). Within-subject
    tie-averaged ranks for k=3 need only pairwise compares and stay
    exact as DOUBLED integers 2r = 2*#less + #equal + 2; the
    tie-corrected statistic clears every denominator into the pure
    integer identity chi2 = 2*(sum S_j^2 - 48 n^2)/(q - 48 n) on
    int64 operands (S_j = per-treatment doubled rank sums, q = sum of
    squared doubled ranks), closing with the staged chi-square(2)
    tail. One user-day hash-agg + a one-row reduce at any scale."""
    ev = t(spark, sf_dir, "events")
    u = ev.groupBy("user_id", F.col("ts").cast("date").alias("d")).agg(
        *[
            F.sum(F.when(F.col("event_type") == et, 1).otherwise(0)).alias(f"x{i}")
            for i, et in enumerate(("view", "click", "purchase"), 1)
        ]
    )

    def two_r(j):
        others = [o for o in (1, 2, 3) if o != j]
        less = sum(
            F.when(F.col(f"x{o}") < F.col(f"x{j}"), 1).otherwise(0) for o in others
        )
        eq = sum(
            F.when(F.col(f"x{o}") == F.col(f"x{j}"), 1).otherwise(0) for o in others
        )
        return 2 * less + eq + 2

    r = u.select(*[two_r(j).alias(f"r{j}") for j in (1, 2, 3)])
    a = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("r1").cast("bigint").alias("s1"),
        F.sum("r2").cast("bigint").alias("s2"),
        F.sum("r3").cast("bigint").alias("s3"),
        F.sum(
            F.col("r1") * F.col("r1") + F.col("r2") * F.col("r2")
            + F.col("r3") * F.col("r3")
        ).cast("bigint").alias("q"),
    )
    base = a.select(
        "n",
        F.lit(2).cast("bigint").alias("dof"),
        (
            F.lit(2.0)
            * (
                F.col("s1") * F.col("s1") + F.col("s2") * F.col("s2")
                + F.col("s3") * F.col("s3") - 48 * F.col("n") * F.col("n")
            ).cast("double")
            / (F.col("q") - 48 * F.col("n")).cast("double")
        ).alias("fr_stat"),
    )
    return _FRIEDMAN_ST.apply_spark(base.repartition(1)).select("n", "dof", "fr_stat", "p_value")


# --- sequential probability ratio test (r11) ---------------------------------------------------

# H0: conversion 0.35 vs H1: 0.45; thresholds A/B at error rates 5%.
# The four log terms are PYTHON literals (shortest-repr doubles parse
# identically in both engines) — no runtime ln() needed at all.
_SPRT_P0, _SPRT_P1 = 0.35, 0.45


def _sprt_literals():
    import math

    l1 = math.log(_SPRT_P1 / _SPRT_P0)            # per conversion
    l2 = math.log((1 - _SPRT_P1) / (1 - _SPRT_P0))  # per non-conversion
    up = math.log((1 - 0.05) / 0.05)              # accept H1
    dn = math.log(0.05 / (1 - 0.05))              # accept H0
    return (repr(l1), repr(l2), repr(up), repr(dn))


def _sprt_sql() -> str:
    l1, l2, up, dn = _sprt_literals()
    return f"""
WITH u AS (
  SELECT user_id,
         MIN(date_trunc('hour', ts)) AS first_h,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
),
h AS (
  SELECT epoch_us(first_h) // 3600000000 AS hb,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(conv) AS BIGINT) AS k
  FROM u GROUP BY 1
),
c AS (
  SELECT hb,
         SUM(n) OVER (ORDER BY hb ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cn,
         SUM(k) OVER (ORDER BY hb ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS ck
  FROM h
),
s AS (
  SELECT hb, cn, ck,
         CAST(ck AS DOUBLE) * CAST({l1} AS DOUBLE)
           + CAST(cn - ck AS DOUBLE) * CAST({l2} AS DOUBLE) AS llr
  FROM c
),
x AS (
  SELECT hb, cn, ck, llr,
         CASE WHEN llr >= CAST({up} AS DOUBLE) THEN 'accept_h1'
              WHEN llr <= CAST({dn} AS DOUBLE) THEN 'accept_h0'
              ELSE 'continue' END AS decision
  FROM s
)
SELECT
  (SELECT CAST(MIN(hb) AS BIGINT) FROM x WHERE decision <> 'continue')
    AS first_decision_hour,
  (SELECT decision FROM x WHERE decision <> 'continue'
   ORDER BY hb LIMIT 1) AS decision,
  (SELECT CAST(cn AS BIGINT) FROM x WHERE decision <> 'continue'
   ORDER BY hb LIMIT 1) AS n_at_decision,
  (SELECT llr FROM x ORDER BY hb DESC LIMIT 1) AS final_llr,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM x) AS n_hours
"""


@register("agg_sprt_early_stop", oracle=_sprt_sql(), tags=("agg", "stats"))
def agg_sprt_early_stop(spark, sf_dir):
    """Wald's sequential probability ratio test on the
    user-conversion stream bucketed by first-seen hour — the
    EARLY-STOPPING readout peeking-prone A/B dashboards should run
    instead of repeated fixed-n tests (SPRT controls both error rates
    at any stopping time): H0 p=0.35 vs H1 p=0.45, 5% error bounds.
    The Bernoulli LLR is ck*ln(p1/p0) + (cn-ck)*ln(q1/q0) with the
    FOUR log terms as Python double literals (both engines parse
    shortest-repr identically — zero runtime ln), cumulative counts
    are exact integer windows over calendar-bounded hour rows, and
    the first boundary crossing + final LLR close the one-row
    answer."""
    from pyspark.sql import Window as W

    l1, l2, up, dn = _sprt_literals()
    ev = t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("hour", F.col("ts"))).alias("first_h"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    h = u.groupBy(
        F.floor(F.unix_micros(F.col("first_h")) / 3600000000)
        .cast("bigint").alias("hb")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("conv").cast("bigint").alias("k"),
    )
    wc = W.orderBy("hb").rowsBetween(W.unboundedPreceding, W.currentRow)
    c = h.select(
        "hb",
        F.sum("n").over(wc).alias("cn"),
        F.sum("k").over(wc).alias("ck"),
    )
    llr = (
        F.col("ck").cast("double") * F.expr(f"CAST({l1} AS DOUBLE)")
        + (F.col("cn") - F.col("ck")).cast("double") * F.expr(f"CAST({l2} AS DOUBLE)")
    )
    x = c.select(
        "hb", "cn", "ck", llr.alias("llr"),
        F.when(llr >= F.expr(f"CAST({up} AS DOUBLE)"), "accept_h1")
        .when(llr <= F.expr(f"CAST({dn} AS DOUBLE)"), "accept_h0")
        .otherwise("continue").alias("decision"),
    ).localCheckpoint(eager=False)
    decided = x.where(F.col("decision") != "continue")
    first = decided.orderBy("hb").limit(1).select(
        F.col("hb").alias("first_decision_hour"),
        "decision",
        F.col("cn").alias("n_at_decision"),
    )
    last = x.orderBy(F.col("hb").desc()).limit(1).select(
        F.col("llr").alias("final_llr")
    )
    nh = x.agg(F.count(F.lit(1)).cast("bigint").alias("n_hours"))
    # anchor on the always-1-row aggregates and LEFT-join the decision
    # row: with no boundary crossing the oracle's scalar subqueries
    # yield NULLs in one row — an inner/cross join would yield zero
    return (
        nh.crossJoin(F.broadcast(last))
        .join(F.broadcast(first), F.lit(True), "left")
        .select(
            "first_decision_hour", "decision", "n_at_decision",
            "final_llr", "n_hours",
        )
    )


# --- skyline / Pareto front (r11) ----------------------------------------------------------------

_SKYLINE_SQL = """
WITH s AS (
  SELECT l_suppkey AS suppkey,
         CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 4) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS avg_price,
         CAST(ROUND(SUM(CAST(l_discount AS DECIMAL(12,4))), 4) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS avg_disc,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem GROUP BY l_suppkey
)
SELECT a.suppkey, a.avg_price, a.avg_disc, a.n
FROM s a
WHERE NOT EXISTS (
  SELECT 1 FROM s b
  WHERE b.avg_price <= a.avg_price AND b.avg_disc >= a.avg_disc
    AND (b.avg_price < a.avg_price OR b.avg_disc > a.avg_disc)
)
ORDER BY a.avg_price
"""


@register("agg_skyline_pareto", oracle=_SKYLINE_SQL, tags=("agg",))
def agg_skyline_pareto(spark, sf_dir):
    """SKYLINE (Pareto front) of suppliers on (avg line price, avg
    discount) — the multi-criteria 'which suppliers are not dominated
    on BOTH cost and rebate' shortlist classic optimizers
    spell as SKYLINE OF. The dominance test runs over the SUPPLIER
    AGGREGATE (bounded by |suppliers|, never fact rows; metrics here:
    avg line price LOWER-better vs avg discount HIGHER-better): facts
    reduce map-side to exact decimal sufficient sums, the per-metric
    averages are one identical IEEE division each, and the dominance
    anti-join broadcasts the k-row aggregate against itself (<= on
    both axes, strict on one — the NOT EXISTS mirrored verbatim as a
    Spark left_anti join). At 100 TB the only fact-side cost is one
    hash-agg; the |suppliers|^2 dominance stays dimension-sized."""
    li = t(spark, sf_dir, "lineitem")
    s = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        (
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
            .cast("decimal(38,4)").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_price"),
        (
            F.sum(F.col("l_discount").cast("decimal(12,4)"))
            .cast("decimal(38,4)").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_disc"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    b = s.select(
        F.col("avg_price").alias("bp"), F.col("avg_disc").alias("bd")
    )
    dominated = (
        (F.col("bp") <= F.col("avg_price"))
        & (F.col("bd") >= F.col("avg_disc"))
        & ((F.col("bp") < F.col("avg_price")) | (F.col("bd") > F.col("avg_disc")))
    )
    return (
        s.join(F.broadcast(b), dominated, "left_anti")
        .select("suppkey", "avg_price", "avg_disc", "n")
        .orderBy("avg_price")
    )


# --- Mann-Kendall trend test (r11) ----------------------------------------------------------------


def _mk_sql() -> str:
    st = SqlStages(prefix="_mk")
    # z with continuity correction: (S - sign(S)) / sqrt(var_s)
    st.add(
        "CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1e0)"
        " / sqrt(var_s)"
        " WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1e0) / sqrt(var_s)"
        " ELSE 0e0 END",
        name="z", pin=True,
    )
    s = st.add("5e-1")
    x = st.add("z * z / 2e0")
    q = st.gammainc_q(s, x)
    st.add(q, name="p_value")  # two-sided: P(|Z| > |z|) = erfc(|z|/sqrt2)
    base = """
WITH w AS (
  SELECT CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
         AS BIGINT) // 7 AS x,
         SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS y
  FROM orders GROUP BY 1
),
pairs AS (
  SELECT CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END AS sgn
  FROM w a JOIN w b ON a.x < b.x
),
ties AS (
  SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie_term
  FROM (SELECT COUNT(*) AS t FROM w GROUP BY y) HAVING TRUE
),
a AS (
  SELECT CAST(SUM(sgn) AS BIGINT) AS s_stat,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM w) AS n
  FROM pairs
)
SELECT s_stat, n,
       CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE) / 18e0 AS var_s
FROM a CROSS JOIN ties
"""
    return st.compact(keep=("z", "p_value")).duckdb_sql(
        base, "SELECT s_stat, n, var_s, z, p_value"
    )


@register("agg_mann_kendall", oracle=_mk_sql(), tags=("agg", "stats"))
def agg_mann_kendall(spark, sf_dir):
    """Mann-Kendall monotonic-trend test on the weekly revenue series
    — `agg_theil_sen`'s significance half (MK z + Sen slope is THE
    standard trend readout in monitoring): S = sum of pairwise signs
    over CALENDAR-bounded weeks (never fact rows), the tie-corrected
    variance [n(n-1)(2n+5) - sum t(t-1)(2t+5)]/18 in exact int64, the
    continuity-corrected z, and the two-sided normal tail via
    erfc(|z|/sqrt 2) = Q(1/2, z^2/2) on the shared staged IEEE
    incomplete-gamma. One hash-agg + a week-bounded self-join."""
    o = t(spark, sf_dir, "orders")
    w = (
        o.groupBy(
            F.floor(
                F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date")) / 7
            ).cast("bigint").alias("x"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("y"))
    )
    a = w.select(F.col("x").alias("ax"), F.col("y").alias("ay"))
    b = w.select(F.col("x").alias("bx"), F.col("y").alias("by"))
    sgn = (
        F.when(F.col("by") > F.col("ay"), 1)
        .when(F.col("by") < F.col("ay"), -1)
        .otherwise(0)
    )
    pairs = a.join(F.broadcast(b), F.col("ax") < F.col("bx")).select(sgn.alias("sgn"))
    s_stat = pairs.agg(F.sum("sgn").cast("bigint").alias("s_stat"))
    nrow = w.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ties = (
        w.groupBy("y").agg(F.count(F.lit(1)).alias("t"))
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)), F.lit(0)
            ).cast("bigint").alias("tie_term")
        )
    )
    nd = F.col("n")
    base = (
        s_stat.crossJoin(F.broadcast(nrow)).crossJoin(F.broadcast(ties)).select(
            "s_stat", "n",
            (
                (nd * (nd - 1) * (2 * nd + 5) - F.col("tie_term")).cast("double")
                / F.lit(18.0)
            ).alias("var_s"),
        )
    )
    st = SqlStages(prefix="_mk")
    st.add(
        "CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1e0)"
        " / sqrt(var_s)"
        " WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1e0) / sqrt(var_s)"
        " ELSE 0e0 END",
        name="z", pin=True,
    )
    s_ = st.add("5e-1")
    x_ = st.add("z * z / 2e0")
    q_ = st.gammainc_q(s_, x_)
    st.add(q_, name="p_value")
    return st.compact(keep=("z", "p_value")).apply_spark(
        base.repartition(1)
    ).select("s_stat", "n", "var_s", "z", "p_value")


# --- nDCG@10 + MRR@10 retrieval metrics (r12) ----------------------------------------------


def _ndcg_literals(k: int = 10):
    """Integer discount/reciprocal tables shared by both engines:
    W[i] = floor(1e12 / log2(i+1)) for rank i=1..k (the nDCG discount)
    and Q[r] = floor(1e12 / r) (the MRR reciprocal). Python derives
    them once; both plans consume identical int64 literals, so every
    per-group metric is exact integer arithmetic until one final
    correctly-rounded division."""
    import math

    w = [int(math.floor(1e12 / math.log2(i + 1))) for i in range(1, k + 1)]
    q = [int(math.floor(1e12 / r)) for r in range(1, k + 1)]
    return w, q


def _ndcg_sql(k: int = 10) -> str:
    w, q = _ndcg_literals(k)
    w_case = " ".join(f"WHEN {i + 1} THEN {wi}" for i, wi in enumerate(w))
    q_case = " ".join(f"WHEN {r + 1} THEN {qi}" for r, qi in enumerate(q))
    return f"""
WITH s AS (
  SELECT o_custkey % 50 AS qid, o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS score,
         CASE o_orderpriority WHEN '1-URGENT' THEN 3 WHEN '2-HIGH' THEN 1 ELSE 0 END AS gain
  FROM orders
),
r AS (
  SELECT qid, gain,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, o_orderkey) AS rnk,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY gain DESC, score DESC, o_orderkey) AS irnk
  FROM s
),
g AS (
  SELECT qid,
         SUM(CASE WHEN rnk <= {k} THEN gain * (CASE rnk {w_case} END) ELSE 0 END) AS dcg,
         SUM(CASE WHEN irnk <= {k} THEN gain * (CASE irnk {w_case} END) ELSE 0 END) AS idcg,
         COALESCE(MIN(CASE WHEN rnk <= {k} AND gain > 0 THEN rnk END), 0) AS first_rel
  FROM r GROUP BY qid
),
t AS (
  SELECT qid, dcg, idcg,
         CASE WHEN idcg > 0
              THEN CAST(FLOOR(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE)
                              * CAST(1000000000000.0 AS DOUBLE)) AS BIGINT)
         END AS ndcg_q,
         CASE first_rel WHEN 0 THEN 0 {q_case} END AS rr_q
  FROM g
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(COUNT(ndcg_q) AS BIGINT) AS n_judged,
       CAST(SUM(ndcg_q) AS DOUBLE) / CAST(1000000000000.0 AS DOUBLE)
         / CAST(COUNT(ndcg_q) AS DOUBLE) AS mean_ndcg,
       CAST(SUM(rr_q) AS DOUBLE) / CAST(1000000000000.0 AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS mrr
FROM t
"""


@register("agg_ndcg_mrr", oracle=_ndcg_sql(), tags=("agg", "stats", "scale"))
def agg_ndcg_mrr(spark, sf_dir):
    """nDCG@10 + MRR@10 — the two standard graded-relevance retrieval
    metrics beside `agg_average_precision`'s PR area, the eval layer
    every RAG/retrieval pipeline reports. Eval shape: each customer
    bucket (custkey mod 50) is a QUERY whose result list is its
    orders ranked by order total (ties by key), graded
    relevance from priority (URGENT gain 3, HIGH gain 1 — the 2^rel-1
    convention). All discounts are pre-derived integer literals
    (_ndcg_literals): per-group DCG/ideal-DCG are exact int64 sums,
    per-query nDCG floor-quantizes to 1e-12 before the cross-group
    sum (the agg_average_precision discipline — order-free), and MRR
    reciprocals come from the same table, so one correctly-rounded
    division per output column is the only float op. Queries with no
    relevant document are excluded from mean nDCG (undefined ideal)
    but count against MRR — both conventions visible in
    n_queries/n_judged. Windows partition BY QUERY — embarrassingly
    parallel at any query count; per-query work is bounded by that
    query's result list."""
    from pyspark.sql import Window as W

    k = 10
    w_lits, q_lits = _ndcg_literals(k)
    o = t(spark, sf_dir, "orders")
    s = o.select(
        (F.col("o_custkey") % 50).alias("qid"),
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint").alias("score"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 3)
        .when(F.col("o_orderpriority") == "2-HIGH", 1)
        .otherwise(0)
        .alias("gain"),
    )
    wr = W.partitionBy("qid").orderBy(F.desc("score"), "o_orderkey")
    wi = W.partitionBy("qid").orderBy(F.desc("gain"), F.desc("score"), "o_orderkey")
    r = s.select(
        "qid", "gain",
        F.row_number().over(wr).alias("rnk"),
        F.row_number().over(wi).alias("irnk"),
    )

    def _disc(rank_col):
        e = F.lit(0).cast("bigint")
        for i, wi_ in enumerate(w_lits):
            e = F.when(rank_col == i + 1, F.lit(wi_).cast("bigint")).otherwise(e)
        return e

    g = r.groupBy("qid").agg(
        F.sum(
            F.when(F.col("rnk") <= k, F.col("gain") * _disc(F.col("rnk"))).otherwise(0)
        ).alias("dcg"),
        F.sum(
            F.when(F.col("irnk") <= k, F.col("gain") * _disc(F.col("irnk"))).otherwise(0)
        ).alias("idcg"),
        F.coalesce(
            F.min(F.when((F.col("rnk") <= k) & (F.col("gain") > 0), F.col("rnk"))),
            F.lit(0),
        ).alias("first_rel"),
    )
    rr = F.lit(0).cast("bigint")
    for rk, qi in enumerate(q_lits, start=1):
        rr = F.when(F.col("first_rel") == rk, F.lit(qi).cast("bigint")).otherwise(rr)
    tq = g.select(
        F.when(
            F.col("idcg") > 0,
            F.floor(
                F.col("dcg").cast("double") / F.col("idcg").cast("double")
                * F.lit(1000000000000.0)
            ).cast("bigint"),
        ).alias("ndcg_q"),
        rr.alias("rr_q"),
    )
    return tq.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.count("ndcg_q").cast("bigint").alias("n_judged"),
        (
            F.sum("ndcg_q").cast("double") / F.lit(1000000000000.0)
            / F.count("ndcg_q").cast("double")
        ).alias("mean_ndcg"),
        (
            F.sum("rr_q").cast("double") / F.lit(1000000000000.0)
            / F.count(F.lit(1)).cast("double")
        ).alias("mrr"),
    )
