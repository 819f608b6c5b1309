"""Unit tests for the CSV rule compiler (X1–X4, T9–T10)."""

import pytest

from etlalchemy_spark.operators.rules import (
    SchemaRules,
    parse_column_rules,
    parse_table_rules,
)

TABLE_CSV = """Table Name, New Table Name, Delete
customer, clients,
orders, , true
"""

COLUMN_CSV = """Table Name, Column Name, New Column Name, New Column Type, Delete
customer, c_name, full_name, ,
customer, c_nationkey, , BigInteger,
customer, c_mktsegment, , , true
*, shared_col, renamed_everywhere, ,
"""


def test_parse_table_rules():
    rules = parse_table_rules(TABLE_CSV)
    assert rules[0].table == "customer" and rules[0].new_name == "clients"
    assert rules[1].table == "orders" and rules[1].delete


def test_parse_column_rules():
    rules = parse_column_rules(COLUMN_CSV)
    assert rules[0].new_name == "full_name"
    assert rules[1].new_type == "bigint"
    assert rules[2].delete
    assert rules[3].table == "*"


def test_unknown_type_raises():
    with pytest.raises(ValueError, match="unknown rule type"):
        parse_column_rules(
            "Table Name, Column Name, New Column Name, New Column Type, Delete\n"
            "t, c, , NotAType,\n"
        )


def test_transform_table_name():
    r = SchemaRules.from_csv(table_csv=TABLE_CSV)
    assert r.transform_table_name("customer") == "clients"
    assert r.transform_table_name("orders") is None  # X2 delete
    assert r.transform_table_name("nation") == "nation"  # untouched


def test_transform_columns(spark):
    r = SchemaRules.from_csv(column_csv=COLUMN_CSV)
    df = spark.createDataFrame(
        [(1, "alice", 3, "SEG", "x")],
        "c_custkey long, c_name string, c_nationkey int, c_mktsegment string, shared_col string",
    )
    out = r.transform("customer", df)
    assert out.columns == ["c_custkey", "full_name", "c_nationkey", "renamed_everywhere"]
    assert dict(out.dtypes)["c_nationkey"] == "bigint"


def test_wildcard_rule_applies_to_other_tables(spark):
    r = SchemaRules.from_csv(column_csv=COLUMN_CSV)
    df = spark.createDataFrame([("v",)], "shared_col string")
    assert r.transform("whatever", df).columns == ["renamed_everywhere"]


def test_suffix_rename_and_ignore(spark):
    r = SchemaRules.from_csv(
        ignored_col_suffixes=["_tmp"],
        renamed_col_suffixes={"_tmstmp": "_dt"},
    )
    df = spark.createDataFrame([(1, 2, 3)], "created_tmstmp long, junk_tmp long, id long")
    out = r.transform("t", df)
    assert out.columns == ["created_dt", "id"]


def test_expectations_null_counts_as_failure(spark):
    """An expectation evaluating to NULL routes the row to quarantine —
    unknown data is what quarantine is FOR — and the passed side drops
    the bookkeeping column."""
    from pyspark.sql import functions as F

    from etlalchemy_spark.operators.expectations import (
        expectation_report,
        split_quarantine,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, -5.0)], "id long, price double"
    )
    rules = [("price_pos", F.col("price") > 0)]
    passed, quarantined = split_quarantine(df, rules)
    assert [r.id for r in passed.collect()] == [1]
    assert "_failed_rules" not in passed.columns
    got = sorted((r.id, list(r._failed_rules)) for r in quarantined.collect())
    assert got == [(2, ["price_pos"]), (3, ["price_pos"])]

    rep = expectation_report(df, rules).collect()[0]
    assert (rep.rule, rep.n_violations, rep.n_rows) == ("price_pos", 2, 3)


def test_expectation_report_is_single_scan(spark):
    """N rules must not become N scans: exactly one aggregate over one
    relation in the physical plan."""
    from pyspark.sql import functions as F

    from etlalchemy_spark.operators.expectations import expectation_report

    df = spark.range(100).select(F.col("id"), (F.col("id") % 7).alias("m"))
    rep = expectation_report(
        df, [("a", F.col("m") < 5), ("b", F.col("m") != 0), ("c", F.col("id") < 90)]
    )
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") <= 2  # one partial + one final


# --- transform as one SQL-text select vs the Column-chain build ---------------

from hypothesis import given, settings, strategies as st  # noqa: E402

from etlalchemy_spark.operators.rules import ColumnRule  # noqa: E402

_NAME = st.text(alphabet="ab .`_", min_size=1, max_size=5)
_TYPES = [None, "int", "bigint", "smallint", "double", "string", "decimal(18,4)"]


def _column_chain_transform(rules: SchemaRules, table: str, df):
    """The pre-SQL-text transform: one ``F.col().cast().alias()`` chain
    per column. Its only change is the backtick-quoted lookup: the bare
    ``F.col(c)`` it used parsed dots as struct access and rejected
    backticks, so it could not read such columns at all."""
    from pyspark.sql import functions as F

    cols = []
    for c in df.columns:
        name, col, keep = c, F.col("`" + c.replace("`", "``") + "`"), True
        for r in rules.column_rules:
            if r.table not in ("*", table) or r.column != c:
                continue
            if r.delete:
                keep = False
                break
            if r.new_type:
                col = col.cast(r.new_type)
            if r.new_name:
                name = r.new_name
        if keep and rules.ignored_col_suffixes:
            if any(c.endswith(s) for s in rules.ignored_col_suffixes):
                keep = False
        if keep and rules.renamed_col_suffixes:
            for sfx, new_sfx in rules.renamed_col_suffixes.items():
                if name.endswith(sfx):
                    name = name[: -len(sfx)] + new_sfx
                    break
        if keep:
            cols.append(col.alias(name))
    return df.select(*cols)


@settings(max_examples=25, deadline=None)
@given(st.data())
def test_transform_matches_column_chain(spark, data):
    """Over names with spaces, dots and backticks, and any mix of casts,
    renames, deletes, '*' rules and suffix ignore/rename rules, the
    SQL-text select gives the Column-chain build's schema and rows."""
    from pyspark.sql.types import LongType, StructField, StructType

    names = data.draw(st.lists(_NAME, min_size=1, max_size=5, unique=True))
    rule = st.builds(
        ColumnRule,
        table=st.sampled_from(["*", "t", "other"]),
        column=st.one_of(st.sampled_from(names), _NAME),
        new_name=st.one_of(st.none(), _NAME),
        new_type=st.sampled_from(_TYPES),
        delete=st.booleans(),
    )
    rules = SchemaRules(
        table_rules=[],
        column_rules=data.draw(st.lists(rule, max_size=6)),
        ignored_col_suffixes=data.draw(st.one_of(st.none(), st.lists(_NAME, max_size=2))),
        renamed_col_suffixes=data.draw(
            st.one_of(st.none(), st.dictionaries(_NAME, _NAME, max_size=2))
        ),
    )
    rows = data.draw(
        st.lists(
            st.tuples(*[st.one_of(st.none(), st.integers(-999, 999)) for _ in names]),
            max_size=4,
        )
    )
    df = spark.createDataFrame(
        rows, StructType([StructField(n, LongType()) for n in names])
    )
    got = rules.transform("t", df)
    want = _column_chain_transform(rules, "t", df)
    assert got.schema == want.schema
    assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))


def test_transform_reads_dotted_and_backticked_names(spark):
    r = SchemaRules.from_csv(
        column_csv="Table Name, Column Name, New Column Name, New Column Type, Delete\n"
        "t, a.b, a`b, BigInteger,\n"
    )
    df = spark.createDataFrame([(1, 2)], "`a.b` int, `c``d` int")
    out = r.transform("t", df)
    assert out.columns == ["a`b", "c`d"]
    assert dict(out.dtypes)["a`b"] == "bigint"
    assert [tuple(x) for x in out.collect()] == [(1, 2)]
