"""Data-driven type standardization — the reference's core novel compute.

Re-expresses ops T1–T8 of the reference's ``standardize_column_type`` /
``add_or_eliminate_column`` (upstream seanharr11/etlalchemy,
ETLAlchemySource.py ≈L150–550; see SURVEY.md §0 for the citation
caveat): observe the data, then

- T2  pick the narrowest integer type that fits (min/max scan)
- T3  infer boolean for integer columns whose values ⊆ {0, 1}
- T4  right-size VARCHAR to the next power of two ≥ max observed length
- T8  eliminate columns that are entirely NULL
- T9  drop columns by name suffix (rule-driven, no scan)

The reference fetches every row into driver memory and loops in Python.
Here ALL observation is one aggregate query per table (``stat_terms``:
2–4 terms per column, SQL text quoted for the engine that runs it),
and decisions compile to ``cast``/``drop``. Two engines run it:

- Spark, in ``standardize`` (file and JDBC targets, which must cast
  before they write): one ``df.agg`` job over ``stats_exprs``, then the
  write reads the source again.
- the destination, in the embedded bulk loaders (sources/bulkload.py):
  the staged rows, handed over as Arrow, are the loader's temporary
  table, the same terms run there as one SQL aggregate, and the loader
  ``decide``s from that row and applies the casts and drops in its
  ``INSERT … SELECT``. The Arrow collect of the staged columns is the
  table's only Spark job.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)

# Narrowest-int ladder: (spark type name, min, max) — mirrors the
# reference's BIT/TINYINT/SMALLINT/INT/BIGINT ladder (T2).
_INT_LADDER = [
    ("tinyint", -(2**7), 2**7 - 1),
    ("smallint", -(2**15), 2**15 - 1),
    ("int", -(2**31), 2**31 - 1),
    ("bigint", -(2**63), 2**63 - 1),
]


def next_pow2(n: int) -> int:
    """Smallest power of two ≥ n (n ≤ 1 → 1) — the reference's
    ``get_nearest_power_of_two`` VARCHAR rounding (T4)."""
    if n <= 1:
        return 1
    return 1 << (n - 1).bit_length()


@dataclass
class ColumnDecision:
    name: str
    source_type: str
    action: str  # "keep" | "cast" | "drop_empty" | "drop_suffix"
    target_type: str | None = None
    varchar_n: int | None = None  # recorded for DDL sinks; Spark stays StringType
    stats: dict = field(default_factory=dict)


def _q(name: str) -> str:
    """Backquoted Spark SQL identifier (embedded backquotes doubled)."""
    return "`" + name.replace("`", "``") + "`"


def stat_terms(schema: T.StructType, quote) -> list[str]:
    """The stats of every column of ``schema`` as SQL text, one
    ``<aggregate> AS <name>`` term each; ``quote`` quotes an identifier
    for the engine that runs them. Every term is standard SQL that
    Spark, DuckDB and SQLite evaluate alike (``length`` counts code
    points in all three), so the bulk loaders compute in the
    destination what ``observe`` computes in Spark. One exception:
    SQLite's ``length`` stops at a NUL character, so a string holding
    one can get a smaller ``varchar_n`` there (recorded only; SQLite
    columns are TEXT)."""
    # total row count: distinguishes a 0-ROW table (standardize is a
    # no-op — dropping every column of an empty partition would destroy
    # the schema) from a populated table with all-NULL columns (T8's
    # actual target)
    terms = ["count(1) AS __total"]
    for f in schema.fields:
        c, dt = quote(f.name), f.dataType
        terms.append(f"count({c}) AS {quote(f.name + '__n')}")
        if isinstance(dt, INT_TYPES):
            terms.append(f"min({c}) AS {quote(f.name + '__min')}")
            terms.append(f"max({c}) AS {quote(f.name + '__max')}")
            # all-01: max(0/1 indicator of "value outside {0,1}") == 0.
            # NULL must count as inside (IN alone yields NULL for NULL
            # input → ELSE 1 would block inference on any nullable
            # flag column)
            terms.append(
                f"max(CASE WHEN {c} IS NULL OR {c} IN (0, 1) THEN 0 ELSE 1 END) "
                f"AS {quote(f.name + '__not01')}"
            )
        elif isinstance(dt, T.StringType):
            terms.append(f"max(length({c})) AS {quote(f.name + '__maxlen')}")
        # floats/decimals: no stats — decide() passes them through
        # unconditionally (T5), so min/max here was dead aggregate work
        # on the one-pass scan this module advertises as the cost center
    return terms


def stats_exprs(df: DataFrame) -> list:
    """``stat_terms`` as Spark aggregate Columns.

    Built as SQL text, one ``F.expr`` per aggregate: composing each
    from Column calls costs ~10 Py4J round trips per expression, which
    on small tables cost more than the scan itself."""
    return [F.expr(e) for e in stat_terms(df.schema, _q)]


def observe(df: DataFrame) -> dict:
    """Run the one-pass stats aggregate; returns {stat_name: value}.

    The collected row is O(#columns) — driver-side by design (these are
    aggregate RESULTS, not data; the reference's fetchall anti-pattern
    is what we're replacing)."""
    row = df.agg(*stats_exprs(df)).collect()[0]
    return row.asDict()


def is_ignored(name: str, ignored_suffixes: list[str] | None) -> bool:
    """T9: the column is dropped by name suffix (no scan needed)."""
    return bool(ignored_suffixes) and any(name.endswith(s) for s in ignored_suffixes)


def keep_all(df: DataFrame) -> list[ColumnDecision]:
    """A "keep" decision for every column: the 0-row outcome, and what
    a bulk load without standardization applies."""
    return [ColumnDecision(f.name, f.dataType.simpleString(), "keep") for f in df.schema.fields]


def decide(df: DataFrame, stats: dict, ignored_suffixes: list[str] | None = None) -> list[ColumnDecision]:
    """Compile observed stats into per-column decisions (T2/T3/T4/T8/T9).

    A 0-ROW input keeps every column untouched: with no observations
    there is no evidence for ANY decision, and the old behavior
    (all counts 0 → drop_empty everywhere) returned a zero-column
    frame that destroyed the table schema on empty partitions."""
    if stats.get("__total") == 0:
        return keep_all(df)
    out: list[ColumnDecision] = []
    for f in df.schema.fields:
        c, dt = f.name, f.dataType
        src = dt.simpleString()
        if is_ignored(c, ignored_suffixes):
            out.append(ColumnDecision(c, src, "drop_suffix"))
            continue
        n = stats.get(f"{c}__n", 0)
        if n == 0:
            out.append(ColumnDecision(c, src, "drop_empty"))
            continue
        if isinstance(dt, INT_TYPES):
            lo, hi = stats[f"{c}__min"], stats[f"{c}__max"]
            if stats.get(f"{c}__not01") == 0:
                out.append(ColumnDecision(c, src, "cast", "boolean", stats={"min": lo, "max": hi}))
                continue
            for name, tmin, tmax in _INT_LADDER:
                if lo >= tmin and hi <= tmax:
                    action = "keep" if name == src else "cast"
                    out.append(
                        ColumnDecision(c, src, action, None if action == "keep" else name,
                                       stats={"min": lo, "max": hi})
                    )
                    break
        elif isinstance(dt, T.StringType):
            maxlen = stats.get(f"{c}__maxlen") or 0
            out.append(
                ColumnDecision(c, src, "keep", varchar_n=next_pow2(maxlen),
                               stats={"max_len": maxlen})
            )
        else:
            # doubles/decimals/timestamps/binary pass through (T5–T7):
            # Spark's types are already the generic destination types.
            out.append(ColumnDecision(c, src, "keep"))
    return out


def apply_decisions(df: DataFrame, decisions: list[ColumnDecision]) -> DataFrame:
    """Compile decisions to a single ``select`` (casts + drops), as one
    ``selectExpr`` call."""
    cols = []
    for d in decisions:
        if d.action in ("drop_empty", "drop_suffix"):
            continue
        if d.action == "cast":
            cols.append(f"CAST({_q(d.name)} AS {d.target_type}) AS {_q(d.name)}")
        else:
            cols.append(_q(d.name))
    return df.selectExpr(*cols)


def standardize(df: DataFrame, ignored_suffixes: list[str] | None = None) -> tuple[DataFrame, list[ColumnDecision]]:
    """Full T1–T9 pass: observe → decide → apply. Returns (new_df, decisions)."""
    decisions = decide(df, observe(df), ignored_suffixes)
    return apply_decisions(df, decisions), decisions


def varchar_metadata(decisions: list[ColumnDecision]) -> dict[str, int]:
    """{column: VARCHAR(n)} map for DDL sinks (Spark strings stay unbounded)."""
    return {d.name: d.varchar_n for d in decisions if d.varchar_n}
