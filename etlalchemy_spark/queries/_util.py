"""Shared helpers for oracle-exact query formulations.

See the determinism contract in ``etlalchemy_spark.registry``: double
reductions go through exact decimal arithmetic so Spark and DuckDB agree
bit-for-bit regardless of partitioning / row order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etlalchemy_spark.catalog import load_table

# Default decimal widths: 18,4 for money/quantity columns (2 intrinsic
# decimals), 8,4 for rate columns in [0,1] (discount/tax).
MONEY = "decimal(18,4)"
RATE = "decimal(8,4)"


# Literal 1 kept at decimal(1,0): a bare int literal promotes to
# decimal(10,0), which pushes product precision past 38 and makes Spark
# silently round the scale (losing oracle-exactness).
def one() -> Column:
    return F.lit(1).cast("decimal(1,0)")


def col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dec(c: Column | str, typ: str = MONEY) -> Column:
    return col(c).cast(typ)


# Final rescale before decimal→double: at scale 4 the unscaled integer of
# any fixture-sized aggregate stays under 2^53, so int→double is exact and
# the single /10^4 division is correctly rounded — both engines produce the
# identical double. (At scale 12 the unscaled int overflows 2^53 and
# DuckDB's two-step conversion double-rounds: off-by-one-ulp mismatches.)
OUT = "decimal(38,4)"


def fsum(c: Column, alias: str) -> Column:
    """Order-insensitive, cross-engine-exact SUM of a decimal expression."""
    return F.sum(c).cast(OUT).cast("double").alias(alias)


def dsum(c: Column | str, alias: str, typ: str = MONEY) -> Column:
    """Order-insensitive SUM over a double column, returned as double."""
    return F.sum(dec(c, typ)).cast(OUT).cast("double").alias(alias)


def davg(c: Column | str, alias: str, typ: str = MONEY) -> Column:
    """Order-insensitive AVG: exact decimal sum / count, in pure double."""
    return (
        F.sum(dec(c, typ)).cast(OUT).cast("double") / F.count(col(c)).cast("double")
    ).alias(alias)


def sql_dsum(expr: str, alias: str, typ: str = "DECIMAL(18,4)") -> str:
    return f"CAST(ROUND(SUM(CAST({expr} AS {typ})), 4) AS DOUBLE) AS {alias}"


def sql_davg(expr: str, alias: str, typ: str = "DECIMAL(18,4)") -> str:
    return (
        f"CAST(ROUND(SUM(CAST({expr} AS {typ})), 4) AS DOUBLE)"
        f" / CAST(COUNT({expr}) AS DOUBLE) AS {alias}"
    )


def t(spark: SparkSession, sf_dir: str, name: str, fanout: bool = False) -> DataFrame:
    """Load a fixture table; ``fanout=True`` for map-compute-bound
    queries only (see catalog.load_table)."""
    return load_table(spark, sf_dir, name, fanout=fanout)


def ts(s: str) -> Column:
    """UTC timestamp literal matching DuckDB ``TIMESTAMP '...'``."""
    return F.lit(s).cast("timestamp")


def sessionize(ev: "DataFrame", gap_minutes: int = 30) -> "DataFrame":
    """Gaps-and-islands session numbering per user: adds ``is_new`` and
    ``session_id`` (cumulative count of session-opening rows). The
    cumulative-sum window tie-breaks on event_id like the lag window —
    ordering by ts alone would make session assignment of same-ts rows
    engine-dependent. Shared by window_sessionize and the interval
    join (one oracle-checked shape, no drift)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wc = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    prev_ts = F.lag("ts").over(w)
    gap_us = gap_minutes * 60 * 1_000_000
    is_new = F.when(
        prev_ts.isNull()
        | ((F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)) > gap_us),
        1,
    ).otherwise(0)
    return ev.withColumn("is_new", is_new).withColumn(
        "session_id", F.sum("is_new").over(wc)
    )


def scratch_dir(kind: str, sf_dir: str) -> str:
    """Stable per-(query, sf) scratch path: reruns overwrite instead of
    accumulating a fresh mkdtemp per invocation (repeated bench/verify
    runs were leaking fixture-sized copies under /tmp)."""
    import hashlib
    import os
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), "etlalchemy_spark_scratch", f"{kind}_{tag}")
    os.makedirs(path, exist_ok=True)
    return path


def fixture_tag(sf_dir: str, deps: tuple = (), extra: str = "") -> str:
    """Content tag for a seed-deterministic synthesized fixture: hashes
    the testdata identity (relative names/sizes/mtimes under ``sf_dir``)
    plus the SOURCE of every dep (functions/modules whose behavior the
    fixture state embeds) plus an ``extra`` literal. Any testdata regen
    or code edit flips the tag, so a cache hit is always a pure replay
    of work that would produce byte-identical state — the gate-time
    optimization (VERDICT r9 #2) can never serve a stale fixture."""
    import hashlib
    import inspect
    import os

    h = hashlib.md5()
    h.update(extra.encode())
    for d in deps:
        h.update(inspect.getsource(d).encode())
    base = os.path.abspath(sf_dir)
    for dirpath, dirnames, filenames in sorted(os.walk(base)):
        dirnames.sort()
        rel = os.path.relpath(dirpath, base)
        for fn in sorted(filenames):
            st = os.stat(os.path.join(dirpath, fn))
            h.update(f"{rel}/{fn}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()


def cached_fixture(kind: str, sf_dir: str, tag: str):
    """(root, meta) for the tagged fixture under the stable scratch
    dir. ``meta`` is None on a miss (caller must build then
    commit_fixture) or the dict stored at commit time on a hit."""
    import json
    import os

    root = scratch_dir(kind, sf_dir)
    marker = os.path.join(root, "_FIXTURE_TAG")
    if os.path.exists(marker):
        try:
            with open(marker) as fp:
                d = json.load(fp)
            if d.get("tag") == tag:
                return root, d.get("meta", {})
        except (OSError, ValueError):
            pass
    return root, None


def commit_fixture(root: str, tag: str, meta: dict | None = None) -> None:
    """Mark the fixture under ``root`` valid for ``tag``. Written LAST,
    after all fixture state is on disk — a crash mid-build leaves no
    marker and the next run rebuilds from scratch."""
    import json
    import os

    with open(os.path.join(root, "_FIXTURE_TAG"), "w") as fp:
        json.dump({"tag": tag, "meta": meta or {}}, fp)


def cached_result(
    spark: SparkSession, kind: str, sf_dir: str, deps: tuple, build
):
    """Parquet-cache an expensive DETERMINISTIC DataFrame (an
    incremental-replay or stream-replay leg whose output is a pure
    function of the testdata): ``build()`` runs only when the testdata
    or any dep's source changed; otherwise the committed result reads
    back in one scan. The cached bytes carry the same values the gate
    hashes, so a hit is observationally identical to a rebuild."""
    import os

    tag = fixture_tag(sf_dir, deps=deps, extra=kind)
    root, meta = cached_fixture(kind, sf_dir, tag)
    out = os.path.join(root, "result")
    if meta is None:
        build().write.mode("overwrite").parquet(out)
        commit_fixture(root, tag)
    return spark.read.parquet(out)


def shingle_ctes(
    k: int,
    relation: str = "documents",
    words_cte: str = "w",
    sh_cte: str = "sh",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of ``operators.dedup.word_shingles`` as a pair of
    CTE bodies (``words_cte`` + ``sh_cte``): distinct word k-grams per
    id with the same trim/whitespace split and the same
    GREATEST(len - (k-1), 1) short-doc clamp. DuckDB list slices are
    end-INCLUSIVE, so the ``+ (k-1)`` span selects k words. Single
    source of truth — the Jaccard / connected-components / MinHash /
    boilerplate / decontamination oracles all embed this; edit shingle
    semantics here and in word_shingles together."""
    span = k - 1
    return f"""{words_cte} AS (
  SELECT {id_col}, regexp_split_to_array(trim(text), '\\s+') AS words FROM {relation}
), {sh_cte} AS (
  SELECT DISTINCT {id_col}, shingle FROM (
    SELECT {id_col},
           UNNEST(list_transform(generate_series(1, GREATEST(len(words) - {span}, 1)),
                  i -> array_to_string(words[CAST(i AS INT):CAST(i AS INT)+{span}], ' '))) AS shingle
    FROM {words_cte}
  )
)"""


def ln_int_sql(n_expr: str) -> str:
    """Cross-engine-EXACT natural log of a positive INTEGER expression,
    as one SQL arithmetic expression valid in both Spark SQL and
    DuckDB. libm ln() rounds differently across engines (the
    text_tfidf_topterms finding), so this builds ln from operations
    that ARE identically rounded everywhere (IEEE-754 +,-,*,/):
    exact power-of-2 range reduction (k = length(bin(n)) - 1, a pure
    integer/string op; m = n / 2^k lands in [1, 2) exactly), then the
    atanh series ln(m) = 2z(1 + z²/3 + z⁴/5 + …) with z = (m-1)/(m+1)
    ≤ 1/3, Horner-evaluated to the z³⁵ term (truncation ~1e-18,
    below double resolution). Both engines evaluate the SAME
    expression tree, so the result is bit-identical — accurate to
    ~1 ulp of true ln, and deterministic, which is what the oracle
    contract needs."""
    # E-notation literals: `1.0` parses as DECIMAL in Spark SQL (and
    # decimal division truncates), while `1e0` is DOUBLE in BOTH
    # engines — every constant here must stay IEEE double
    k = f"(length(bin({n_expr})) - 1)"
    m = f"(CAST({n_expr} AS DOUBLE) / CAST(CAST(1 AS BIGINT) << {k} AS DOUBLE))"
    z = f"(({m} - 1e0) / ({m} + 1e0))"
    w = f"({z} * {z})"
    horner = "(1e0/35e0)"
    for d in range(33, 0, -2):
        horner = f"((1e0/{d}e0) + {w} * {horner})"
    return (
        f"(CAST({k} AS DOUBLE) * 6931471805599453e-16 + 2e0 * {z} * {horner})"
    )


def cut(df: DataFrame) -> DataFrame:
    """Lazy lineage cut for an upstream frame with MULTIPLE consumers
    (e.g. a pre-aggregate feeding both a prefix pass and a totals
    aggregate): one materialization replaces per-consumer re-execution
    of the upstream plan — the kruskal-wallis r14 finding, shared. On
    Spark 4.1 + AQE the "lazy" checkpoint still executes upstream
    shuffle stages at creation, so apply it only where a second
    consumer exists."""
    return df.localCheckpoint(eager=False)
