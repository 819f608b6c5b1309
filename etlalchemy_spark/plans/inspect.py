"""Physical-plan predicates over ``explain('formatted')`` output."""

from __future__ import annotations

import io
import re
from contextlib import contextmanager, redirect_stdout

from pyspark.sql import DataFrame


def explain_formatted(df: DataFrame) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def has_pushed_filters(df: DataFrame, column: str | None = None) -> bool:
    """True if the parquet scan carries PushedFilters (optionally
    mentioning ``column``) — i.e. row-group skipping is in play."""
    plan = explain_formatted(df)
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        body = m.group(1).strip()
        if body and (column is None or column in body):
            return True
    return False


def scan_read_schema(df: DataFrame) -> list[str]:
    """Column names the parquet scans actually read (ReadSchema) —
    the column-pruning audit: a 2-column projection must not read 11."""
    plan = explain_formatted(df)
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        for part in m.group(1).split(","):
            name = part.split(":")[0].strip()
            if name:
                cols.append(name)
    return cols


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_formatted(df)


def has_cartesian(df: DataFrame) -> bool:
    plan = explain_formatted(df)
    return "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan


def unpartitioned_windows(df: DataFrame) -> list[str]:
    """Window nodes whose partition spec is EMPTY — the single-partition
    shape that funnels all rows through one task (WindowExec's "No
    Partition Defined" warning). Inspected directly on the OPTIMIZED
    logical plan via the JVM (``partitionSpec().isEmpty()``) — the
    optimizer has already stripped foldable partition keys by then, so
    a ``partitionBy(lit(0))`` smokescreen is still caught, and no
    string parsing of explain() output is involved (an earlier
    heuristic matched " ASC" in the last bracket group, which a column
    alias could flip)."""
    plan = df._jdf.queryExecution().optimizedPlan()
    offenders: list[str] = []

    def walk(node) -> None:
        if node.getClass().getSimpleName() == "Window":
            if node.partitionSpec().isEmpty():
                offenders.append(node.simpleString(100))
        children = node.children()
        for i in range(children.length()):
            walk(children.apply(i))
        # subquery expressions host their own plan trees
        subqueries = node.subqueries()
        for i in range(subqueries.length()):
            walk(subqueries.apply(i))

    walk(plan)
    return offenders


def plan_tree(df: DataFrame) -> str:
    """Normalized physical-plan shape: the formatted explain's tree
    section with node ids stripped — node names + nesting only, none
    of the volatile details (paths, sizes, expr ids). Two runs of the
    same code over the same fixtures produce identical trees; a code
    change that alters the plan's shape changes it."""
    lines = []
    for line in explain_formatted(df).splitlines():
        if not line.strip():
            break  # details section follows the tree
        if line.startswith("=="):
            continue
        lines.append(re.sub(r"\s*\(\d+\)\s*$", "", line.rstrip()))
    return "\n".join(lines)


def plan_fingerprint(df: DataFrame) -> str:
    """Short stable hash of ``plan_tree`` — the regression tripwire
    unit (tests/test_plan_fingerprints.py pins one per bench query)."""
    import hashlib

    return hashlib.md5(plan_tree(df).encode()).hexdigest()[:16]


def aux_plan_trees(name: str, spark, sf_dir: str) -> list[str]:
    """Extra plan trees for queries whose returned frame hides the
    real work behind a build-time action: sketch_quantile_histogram
    collects its bin aggregate and returns a 3-row literal, so its
    visible plan is just Range→Generate — without this probe the
    fingerprint tripwire would wave through a regression in the very
    aggregation it exists to guard."""
    if name == "sketch_quantile_histogram":
        from pyspark.sql import functions as F

        from etlalchemy_spark.operators.sketch import hist_bins
        from etlalchemy_spark.queries._util import t
        from etlalchemy_spark.queries.sketches import _HQ_LO, _HQ_NBINS, _HQ_WIDTH

        li = t(spark, sf_dir, "lineitem")
        return [
            plan_tree(hist_bins(li, F.col("l_extendedprice"), _HQ_LO, _HQ_WIDTH, _HQ_NBINS))
        ]
    return []


def pinned_plan_text(name: str, df: DataFrame, spark, sf_dir: str) -> str:
    """The full text a fingerprint pin covers: the query's own plan
    tree plus any aux probes."""
    parts = [plan_tree(df)] + aux_plan_trees(name, spark, sf_dir)
    return "\n-- aux --\n".join(parts)


def pinned_plan_fingerprint(name: str, df: DataFrame, spark, sf_dir: str) -> str:
    import hashlib

    return hashlib.md5(pinned_plan_text(name, df, spark, sf_dir).encode()).hexdigest()[:16]


@contextmanager
def fixed_default_parallelism(spark, n: int):
    """Build plans inside the block as if the context had ``n`` task
    slots: every ``sparkContext.defaultParallelism`` read (spread
    guards, keyed repartitions, file split sizing) returns ``n``. A
    plan's shape can depend on that count — an exchange is elided when
    a repartition's width happens to equal the shuffle partitions — so
    plan pins are taken and checked under one recorded value, not the
    host's core count. Sets ``spark.default.parallelism`` on the live
    context conf, which the scheduler backend reads on every call, and
    restores it on exit."""
    conf = spark.sparkContext._jsc.sc().conf()
    key = "spark.default.parallelism"
    prev = conf.get(key) if conf.contains(key) else None
    conf.set(key, str(n))
    try:
        yield
    finally:
        if prev is None:
            conf.remove(key)
        else:
            conf.set(key, prev)


def has_wholestage_codegen(df: DataFrame) -> bool:
    """Codegen spans show as ``*(n)`` stage markers in the simple plan
    (the formatted mode hides them behind AdaptiveSparkPlan)."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    simple = buf.getvalue()
    return bool(re.search(r"\*\(\d+\)", simple)) or "WholeStageCodegen" in simple
