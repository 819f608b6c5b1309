"""File sources/sinks with the reference's CSV conventions.

W1 parity (upstream literal_value_generator.py ≈L80–160): the
reference writes dialect-specific delimited files (NULL marker,
delimiter, escaping) that feed each DBMS's bulk loader. Spark's CSV
writer exposes the same knobs; per-dialect option bundles below mirror
the reference's conventions. The bulk-load handoff itself becomes
``write_csv(df, dialect=...)`` + the loader invocation (out of scope in
a lake context — ``write_jdbc`` covers direct loads).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Dialect → CSV writer options (the reference's NULL/escape conventions).
# Every bundle pins timestampFormat to full microsecond precision:
# Spark's CSV writer default emits only milliseconds, which silently
# truncated sub-ms timestamps through the bulk path (the migration is
# generic over tables, so any table with µs timestamps was corrupted).
_TS_US = {
    "timestampFormat": "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "timestampNTZFormat": "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "dateFormat": "yyyy-MM-dd",
}
CSV_DIALECT_OPTIONS: dict[str, dict[str, str]] = {
    # MySQL LOAD DATA INFILE: \N for NULL, backslash escapes
    "mysql": {"nullValue": r"\N", "delimiter": ",", "escape": "\\", "quote": '"', **_TS_US},
    # Postgres COPY text format: \N for NULL
    "postgresql": {"nullValue": r"\N", "delimiter": ",", "escape": "\\", "quote": '"', **_TS_US},
    # SQL Server bcp character mode: bcp performs NO quote/escape
    # processing — fields are raw terminator-bounded bytes (the
    # generated non-XML format file declares exactly that). So the
    # writer must not quote at all (quote=NUL disables it; embedded
    # '"' rides raw and loads literally) and empty string collapses to
    # the empty NULL marker (the dialect's single-marker convention;
    # Spark's default emptyValue would emit literal "" which bcp loads
    # as a 2-char string). Values containing the tab delimiter or a
    # newline are UNREPRESENTABLE in this mode —
    # write_csv_for_bulk_load rejects them up front.
    "mssql": {
        "nullValue": "",
        "emptyValue": "",
        "delimiter": "\t",
        "quote": "\u0000",
        **_TS_US,
    },
    # Oracle sqlldr with OPTIONALLY ENCLOSED BY '"': enclosed fields
    # escape an embedded quote by DOUBLING it (RFC-4180), not \" —
    # escape='"' makes the writer emit exactly that. Empty string is
    # pinned to the enclosed form ('""'); Oracle collapses '' to NULL
    # server-side either way. Embedded newlines would split the
    # record (sqlldr's default record terminator) — rejected up front.
    "oracle": {
        "nullValue": "",
        "emptyValue": '""',
        "delimiter": ",",
        "quote": '"',
        "escape": '"',
        **_TS_US,
    },
    # DuckDB / Postgres COPY **CSV-mode defaults** — the lossless set:
    # NULL = unquoted empty, empty string = quoted "", RFC-4180 quote
    # doubling (escape = quote). Unlike the \N conventions above, this
    # distinguishes NULL / '' / a literal "\N" string in both
    # directions (loader side: ALLOW_QUOTED_NULLS FALSE).
    "duckdb": {
        "nullValue": "",
        "emptyValue": '""',
        "delimiter": ",",
        "escape": '"',
        "quote": '"',
        **_TS_US,
    },
}
# SQLite .import --csv expects the same RFC-4180 quote doubling: one
# bundle, so the two can never drift apart.
CSV_DIALECT_OPTIONS["sqlite"] = CSV_DIALECT_OPTIONS["duckdb"]

FORMATS = ("parquet", "csv", "json", "orc", "text")


def read_file(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    **options,
) -> DataFrame:
    """Format-dispatched read. CSV/JSON prefer an explicit schema —
    inference is a full extra pass at scale."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        options.setdefault("header", "true")
        if schema is None:
            options.setdefault("inferSchema", "true")
    return reader.options(**options).format(fmt).load(path)


def write_file(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    sort_by: list[str] | None = None,
    coalesce: int | None = None,
    **options,
) -> None:
    """Format-dispatched write with layout controls (the lake analogue
    of the reference's index epilogue: partition/sort on write)."""
    if sort_by:
        df = df.sortWithinPartitions(*sort_by)
    if coalesce:
        df = df.coalesce(coalesce)
    writer = df.write.mode(mode).options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt == "csv":
        options.setdefault("header", "true")
        writer = writer.option("header", options["header"])
    writer.format(fmt).save(path)


# Characters a dialect's loader cannot represent AT ALL: bcp character
# mode has no quoting, so the tab delimiter and record terminators are
# unrepresentable inside values; sqlldr's default record terminator is
# the newline, so embedded newlines split the record even when quoted.
_UNREPRESENTABLE: dict[str, list[str]] = {
    "mssql": ["\t", "\n", "\r"],
    "oracle": ["\n", "\r"],
}

# Human-readable hazard description per predicate dialect (r11: the
# pg/mysql parse-as-loader-would tests surfaced two SILENT corruption
# channels in the \N dialects' unquoted fields).
_HAZARD_WHY: dict[str, str] = {
    "postgresql": (
        "a value exactly equal to the NULL marker '\\N' — the writer "
        "emits it unquoted, so COPY would load it as NULL"
    ),
    "mysql": (
        "a backslash in a value the writer leaves UNQUOTED (no "
        "delimiter/quote/newline to trigger quoting) — LOAD DATA's "
        "ESCAPED BY '\\\\' processing applies outside enclosures too, "
        "so '\\b' becomes backspace and '\\N' becomes NULL"
    ),
}


def _hazard_cond(dialect: str, c: str):
    """Column condition matching values dialect's loader would corrupt."""
    from pyspark.sql import functions as F

    if dialect == "postgresql":
        return F.col(c) == "\\N"
    if dialect == "mysql":
        return F.col(c).contains("\\") & ~(
            F.col(c).contains(",")
            | F.col(c).contains('"')
            | F.col(c).contains("\n")
        )
    bad = _UNREPRESENTABLE.get(dialect)
    if not bad:
        return None
    cond = F.col(c).contains(bad[0])
    for ch in bad[1:]:
        cond = cond | F.col(c).contains(ch)
    return cond


def assert_loader_representable(df: DataFrame, dialect: str) -> None:
    """Refuse to stage data a dialect's native loader would CORRUPT
    (it cannot round-trip these characters, it mangles them silently):
    one aggregate pass (JVM-side predicates per string column,
    map-side max) naming the offending columns. mssql/oracle refuse
    terminator characters; postgresql refuses values equal to the
    '\\N' NULL marker; mysql refuses backslashes in fields its writer
    leaves unquoted (escape processing applies outside enclosures).
    Callers with an upstream cleanliness guarantee skip it via
    write_csv_for_bulk_load's ``validate=False``."""
    from pyspark.sql import functions as F

    cols = [f.name for f in df.schema.fields if f.dataType.simpleString() == "string"]
    if not cols:
        return
    aggs = []
    for c in cols:
        cond = _hazard_cond(dialect, c)
        if cond is None:
            return
        aggs.append(F.max(F.when(cond, 1).otherwise(0)).alias(c))
    row = df.agg(*aggs).collect()[0]
    offending = [c for c in cols if row[c] == 1]
    if offending:
        why = _HAZARD_WHY.get(
            dialect,
            "characters ("
            + ", ".join(repr(ch) for ch in _UNREPRESENTABLE.get(dialect, []))
            + ")",
        )
        raise ValueError(
            f"columns {offending} contain {why} — the {dialect} native "
            "loader would corrupt, not escape, these values. Clean or "
            "drop them first, or pass validate=False to accept the "
            "corruption knowingly."
        )


def write_csv_for_bulk_load(
    df: DataFrame,
    path: str,
    dialect: str = "postgresql",
    validate: bool = True,
    **overrides,
) -> None:
    """W1: dialect-convention CSV dump, one file per partition (the
    scalable version of the reference's single dump file — each
    partition feeds a parallel loader invocation)."""
    opts = dict(CSV_DIALECT_OPTIONS.get(dialect, CSV_DIALECT_OPTIONS["postgresql"]))
    # Spark's CSV WRITER trims leading/trailing whitespace by default
    # (univocity ignore*WhiteSpace=true), silently corrupting values
    # like "  x " or "\n" on the way to the loader — found by the
    # hypothesis roundtrip property, disabled for every dialect
    opts.setdefault("ignoreLeadingWhiteSpace", "false")
    opts.setdefault("ignoreTrailingWhiteSpace", "false")
    opts.update({k: str(v) for k, v in overrides.items()})
    if validate:
        assert_loader_representable(df, dialect)
        # Spark's CSV writer silently OMITS a row whose rendering is a
        # fully empty line. For a single-column table that happens for
        # any value whose RENDERED form is the empty string under this
        # dialect's conventions: NULL when nullValue='' and '' when
        # emptyValue='' (mssql renders both empty; the \N dialects
        # render neither, so they pass). Multi-column all-NULL rows
        # render as bare delimiters and survive everywhere. Losing
        # rows silently is worse than refusing: fail loudly.
        if len(df.columns) == 1:
            from pyspark.sql import functions as F

            c = df.columns[0]
            conds = []
            if opts.get("nullValue", "") == "":
                conds.append(F.col(c).isNull())
            # Spark's writer default emptyValue is the quoted '""'
            # (non-empty); only an explicit '' renders empty
            if opts.get("emptyValue", '""') == "" and dict(df.dtypes)[c] == "string":
                conds.append(F.col(c) == "")
            if conds:
                cond = conds[0]
                for x in conds[1:]:
                    cond = cond | x
                if df.where(cond).limit(1).count():
                    raise ValueError(
                        f"single-column table where {c!r} holds values "
                        f"the {dialect} CSV conventions render as a "
                        "fully-empty line (NULL and/or empty string): "
                        "Spark's writer drops such rows, so the bulk "
                        "load would silently lose them. Use a non-CSV "
                        "path (write_jdbc) or add a surrogate column; "
                        "validate=False accepts the loss knowingly."
                    )
    df.write.mode("overwrite").options(**opts).csv(path)
