"""Property-based roundtrip proof for BOTH executed bulk-load legs:
arbitrary text (quotes, delimiters, newlines, unicode, the NULL
marker as literal data) and arbitrary doubles must survive
the Arrow handoff → native loader → Arrow read-back bit-exactly.
The example-based tests in test_bulkload.py pin known hazards; this
one searches for unknown ones."""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etlalchemy_spark.sources.bulkload import (
    bulk_load_duckdb,
    bulk_load_sqlite,
    read_duckdb_table,
    read_sqlite_table,
)

# printable-ish unicode incl. the CSV hazard characters; no NUL (text
# columns in every target reject it) and no lone surrogates
_text = st.text(
    alphabet=st.one_of(
        st.sampled_from(list(',"\\\n\r\t;|')),
        st.characters(
            min_codepoint=0x20,
            max_codepoint=0x2FA1F,
            blacklist_categories=("Cs",),
        ),
    ),
    max_size=40,
)

_rows = st.lists(
    st.tuples(
        st.text(alphabet="abc", min_size=0, max_size=3),  # may collide/empty
        st.one_of(st.none(), _text),
        st.one_of(
            st.none(),
            st.floats(allow_nan=False, width=64),  # inf allowed
        ),
    ),
    min_size=1,
    max_size=20,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_rows)
def test_duckdb_roundtrip_arbitrary_rows(spark, tmp_path_factory, rows):
    tmp = tmp_path_factory.mktemp("duck_prop")
    data = [(i, k, s, v) for i, (k, s, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "id int, k string, s string, v double")
    db = str(tmp / "p.duckdb")
    assert bulk_load_duckdb(df, db, "t") == len(rows)
    read = read_duckdb_table(spark, db, "t", df.schema)
    assert read.schema == df.schema
    back = {r["id"]: (r["k"], r["s"], r["v"]) for r in read.collect()}
    src = {r["id"]: (r["k"], r["s"], r["v"]) for r in df.collect()}
    assert back == src


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_rows)
def test_sqlite_roundtrip_arbitrary_rows(spark, tmp_path_factory, rows):
    tmp = tmp_path_factory.mktemp("sqlite_prop")
    data = [(i, k, s, v) for i, (k, s, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "id int, k string, s string, v double")
    db = str(tmp / "p.sqlite")
    assert bulk_load_sqlite(df, db, "t") == len(rows)
    read = read_sqlite_table(spark, db, "t", df.schema)
    assert read.schema == df.schema
    back = {r["id"]: (r["k"], r["s"], r["v"]) for r in read.collect()}
    # lossless: DuckDB's read_csv keeps '' and NULL apart
    src = {r["id"]: (r["k"], r["s"], r["v"]) for r in df.collect()}
    assert back == src


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_rows, perm_seed=st.integers(min_value=0, max_value=5))
def test_append_maps_columns_by_name(spark, tmp_path_factory, rows, perm_seed):
    """Appending a column-PERMUTED DataFrame into an existing table must
    map values by name (explicit COPY/INSERT column list), not refuse
    or load positionally — for both executed legs."""
    import itertools

    tmp = tmp_path_factory.mktemp("perm_prop")
    data = [(i, k, s, v) for i, (k, s, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "id int, k string, s string, v double")
    perm = list(itertools.permutations(df.columns))[perm_seed % 24]
    permuted = df.select(*perm)

    for leg, load, read in (
        ("duckdb", bulk_load_duckdb, read_duckdb_table),
        ("sqlite", bulk_load_sqlite, read_sqlite_table),
    ):
        db = str(tmp / f"p.{leg}")
        assert load(df, db, "t") == len(rows)
        n = load(permuted, db, "t", mode="append")
        assert n == 2 * len(rows)
        back = read(spark, db, "t", df.schema)
        assert back.schema == df.schema, leg
        back = sorted((r["id"], r["k"], r["s"], r["v"]) for r in back.collect())
        src = sorted((r["id"], r["k"], r["s"], r["v"]) for r in df.collect())
        assert back == sorted(src + src)  # both loads landed identically
