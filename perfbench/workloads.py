"""The benchmark workloads and the checks on their outputs.

BENCHMARK.json runs ``migrate_db`` and ``analytics_mix``. ``migrate_lake``
(the parquet-to-parquet path) runs by name only: its operations take
twice as long and keep speeding up for a minute, more than a run of the
benchmark's length can absorb.

A workload makes its inputs (``generate`` before Spark starts, ``load``
for inputs that need the JVM), primes them (``prime``, part of set-up),
runs one operation (``op``, the timed unit) and checks that operation's
output (``verify``, never timed). Verification compares content, not
just counts: every destination table's row count and order-insensitive
content hash against its source, every query result against its DuckDB
oracle.
"""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

import gen

# --- content digests -------------------------------------------------------


def _column_for_hash(col: pa.ChunkedArray) -> pd.Series:
    """One column mapped to a type-independent representation, so a
    standardized destination (narrowed ints, 0/1 ints as BOOLEAN,
    float32 lists, tz-aware timestamps) hashes like its source."""
    col = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    t = col.type
    if pa.types.is_boolean(t) or pa.types.is_integer(t):
        return pd.Series(col.cast(pa.int64()).to_numpy(zero_copy_only=False))
    if pa.types.is_floating(t):
        return pd.Series(col.cast(pa.float64()).to_numpy(zero_copy_only=False))
    if pa.types.is_timestamp(t):
        naive = col.cast(pa.timestamp(t.unit, tz=None)) if t.tz else col
        return pd.Series(naive.cast(pa.timestamp("us")).cast(pa.int64()).to_numpy(zero_copy_only=False))
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        flat = pc.list_flatten(col).cast(pa.float64()).to_numpy(zero_copy_only=False)
        offs = col.offsets.to_numpy()
        return pd.Series([flat[a:b].tobytes().hex() for a, b in zip(offs[:-1], offs[1:])])
    return pd.Series(col.to_pandas())


def digest(tbl: pa.Table) -> tuple[tuple[str, ...], int, int]:
    """(sorted column names, rows, order-insensitive content hash)."""
    names = tuple(sorted(tbl.column_names))
    if tbl.num_rows == 0:
        return names, 0, 0
    df = pd.DataFrame({n: _column_for_hash(tbl[n]) for n in names})
    rows = pd.util.hash_pandas_object(df, index=False).to_numpy(np.uint64)
    return names, tbl.num_rows, int(rows.sum(dtype=np.uint64))


def _dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _prime(paths: list[str]) -> None:
    """Page-cache priming: read every input file once."""
    for p in paths:
        for f in [p] if os.path.isfile(p) else glob.glob(os.path.join(p, "**"), recursive=True):
            if os.path.isfile(f):
                with open(f, "rb") as fh:
                    while fh.read(1 << 20):
                        pass


# --- workloads ---------------------------------------------------------------


class Workload:
    name = ""
    NOMINAL_OP_S = 1.0  # one operation's time on a 4-CPU machine: sizes the run
    WARMUP_OPS = 2  # untimed operations before the timed ones
    tracer = None  # set by a traced run; only spans.Tracer users read it

    def __init__(self, seed: int, size: str, work: str) -> None:
        self.seed, self.size, self.work = seed, size, work
        self.cfg = self.SIZES[size]

    def generate(self) -> None: ...

    def load(self, spark) -> None: ...

    def prime(self, spark) -> None: ...

    def op_stats(self, out) -> dict:
        """Per-operation counts read after the op (never timed)."""
        return {}


class _Migrate(Workload):
    def op_stats(self, reports) -> dict:
        actions = [d.action for r in reports for d in r.decisions]
        return {
            "tables": len(reports),
            "casts": actions.count("cast"),
            "drops": sum(a.startswith("drop") for a in actions),
            "dest_bytes": self.dest_bytes(),
        }


class MigrateLake(_Migrate):
    """FileSource(parquet lake) -> Target(parquet), standardization on."""

    name = "migrate_lake"
    NOMINAL_OP_S = 5.0
    SIZES = {
        "full": {"scale": 0.5, "copies": 2},
        "tiny": {"scale": 0.1, "copies": 1},
    }

    def generate(self) -> None:
        self.src, tables = gen.cached_lake(
            os.path.join(self.work, "inputs"), self.seed, self.cfg["scale"], self.cfg["copies"]
        )
        self.expected = {n: digest(t) for n, t in tables.items()}
        self.dest = os.path.join(self.work, "dest", "lake")

    def prime(self, spark) -> None:
        _prime([self.src])

    def op(self, spark):
        from etlalchemy_spark.migrate import FileSource, Migration, Target

        m = Migration(
            FileSource(self.src),
            Target(self.dest, fmt="parquet", drop_destination=True),
        )
        reports, _ = m.run(spark)
        return reports

    def verify(self, reports) -> tuple[int, list[str]]:
        issues = []
        rows = 0
        got = {os.path.basename(p)[: -len(".parquet")]: p for p in glob.glob(f"{self.dest}/*.parquet")}
        if set(got) != set(self.expected):
            issues.append(f"tables {sorted(got)} != {sorted(self.expected)}")
        for name, want in self.expected.items():
            if name in got:
                have = digest(pq.read_table(got[name]))
                rows += have[1]
                if have != want:
                    issues.append(f"{name}: {have[:2]} != {want[:2]} or content differs")
        return rows, issues

    def dest_bytes(self) -> int:
        return sum(_dir_bytes(p) for p in glob.glob(f"{self.dest}/*.parquet"))


class MigrateDb(_Migrate):
    """JdbcSource(in-memory Derby) -> Target(duckdb) through the native
    CSV + COPY bulk path, with a rules CSV and partitioned extract."""

    name = "migrate_db"
    NOMINAL_OP_S = 2.25
    WARMUP_OPS = 3
    SIZES = {
        "full": {"scale": 0.5, "star": ["nation", "customer", "orders"], "extras": 3},
        "tiny": {"scale": 0.1, "star": ["region", "nation"], "extras": 1},
    }

    def generate(self) -> None:
        tables, self.keys = gen.db_catalog(
            self.seed, self.cfg["scale"], self.cfg["star"], self.cfg["extras"]
        )
        self.rules_csv = gen.db_rules(self.seed, list(tables))
        self.tables = tables
        self.url = f"jdbc:derby:memory:bench_src_{self.seed};create=true"
        self.dest = os.path.join(self.work, "dest", "db.duckdb")
        # expected destination content: rules + standardize applied
        # to the source (flag renamed, ignored-suffix and all-NULL
        # columns gone, deleted table absent)
        from etlalchemy_spark.operators.rules import SchemaRules

        rules = self._rules(SchemaRules)
        self.expected = {}
        for name, t in tables.items():
            dest = rules.transform_table_name(name)
            if dest is None:
                continue
            keep = [c for c in t.column_names if c != "unused" and not c.endswith(gen.IGNORED_SUFFIX)]
            t = t.select(keep).rename_columns(["is_flagged" if c == "flag" else c for c in keep])
            self.expected[dest] = digest(t)

    def _rules(self, SchemaRules):
        return SchemaRules.from_csv(*self.rules_csv, ignored_col_suffixes=[gen.IGNORED_SUFFIX])

    def load(self, spark) -> None:
        """Create and fill the source database with Derby's own bulk
        import (input generation: not part of set-up or of an op)."""
        stage = os.path.join(self.work, "inputs", f"derby_s{self.seed}")
        os.makedirs(stage, exist_ok=True)
        ddl_types = {"int64": "BIGINT", "int32": "INTEGER", "double": "DOUBLE",
                     "string": "VARCHAR(256)", "timestamp[us]": "TIMESTAMP"}
        conn = spark._jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            st = conn.createStatement()
            for name, t in self.tables.items():
                cols = ", ".join(f'"{f.name}" {ddl_types[str(f.type)]}' for f in t.schema)
                st.execute(f"CREATE TABLE {name} ({cols})")
                csv = os.path.join(stage, f"{name}.csv")
                pacsv.write_csv(t, csv, pacsv.WriteOptions(include_header=False))
                st.execute(
                    f"CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(NULL, '{name.upper()}', "
                    f"'{csv}', ',', '\"', 'UTF-8', 0)"
                )
        finally:
            conn.close()
        shutil.rmtree(stage, ignore_errors=True)

    def op(self, spark):
        from etlalchemy_spark.migrate import JdbcSource, Migration, Target
        from etlalchemy_spark.operators.rules import SchemaRules

        cpus = spark.sparkContext.defaultParallelism
        m = Migration(
            JdbcSource(self.url, partition_columns=self.keys, num_partitions=cpus),
            Target(self.dest, fmt="duckdb", drop_destination=True),
            rules=self._rules(SchemaRules),
        )
        reports, _ = m.run(spark)
        return reports

    def verify(self, reports) -> tuple[int, list[str]]:
        import duckdb

        issues = []
        rows = 0
        con = duckdb.connect(self.dest, read_only=True)
        try:
            got = {r[0] for r in con.execute("SELECT table_name FROM information_schema.tables").fetchall()}
            if got != set(self.expected):
                issues.append(f"tables {sorted(got)} != {sorted(self.expected)}")
            for name, want in self.expected.items():
                if name in got:
                    have = digest(con.execute(f'SELECT * FROM "{name}"').arrow())
                    rows += have[1]
                    if have != want:
                        issues.append(f"{name}: {have[:2]} != {want[:2]} or content differs")
        finally:
            con.close()
        return rows, issues

    def dest_bytes(self) -> int:
        return _dir_bytes(self.dest)

    def op_stats(self, reports) -> dict:
        files = glob.glob(f"{self.dest}.csv_stage/*/part-*")
        return {
            **super().op_stats(reports),
            "stage_files": len(files),
            "stage_bytes": sum(os.path.getsize(f) for f in files),
        }


ANALYTICS_MIX = [
    "q3_shipping_priority", "window_sessionize", "text_tfidf_topterms", "mm_decode_jpeg_stats",
]


class AnalyticsMix(Workload):
    """Registry queries over the lake, seed-permuted order; one
    operation is one pass over the mix, each result collected."""

    name = "analytics_mix"
    NOMINAL_OP_S = 2.0
    SIZES = {
        "full": {"scale": 1.0, "queries": ANALYTICS_MIX},
        "tiny": {"scale": 0.1, "queries": ["q3_shipping_priority", "window_sessionize"]},
    }

    def generate(self) -> None:
        self.lake, tables = gen.cached_lake(os.path.join(self.work, "inputs"), self.seed, self.cfg["scale"])
        self.table_rows = {n: t.num_rows for n, t in tables.items()}
        self.order = gen.query_order(self.seed, list(self.cfg["queries"]))
        self.oracle: dict[str, pd.DataFrame] = {}
        self.scanned: dict[str, set[str]] = {}  # query -> tables it scans

    def prime(self, spark) -> None:
        from etlalchemy_spark.registry import all_queries

        self.queries = all_queries()
        _prime([self.lake])

    def load(self, spark) -> None:
        """DuckDB oracle results, computed once per run."""
        from verify_local import duck_con

        con = duck_con(self.lake)
        try:
            for name in self.order:
                con.execute("CREATE OR REPLACE TEMP TABLE _oracle AS " + self.queries[name].oracle)
                self.oracle[name] = con.execute("SELECT * FROM _oracle").fetchdf()
        finally:
            con.close()

    def op(self, spark):
        out = {}
        for name in self.order:
            tr = self.tracer
            sid = tr.begin(f"query.{name}.build") if tr and tr.enabled else None
            df = self.queries[name].fn(spark, self.lake)
            if name not in self.scanned:  # first (warm-up) pass only
                self.scanned[name] = {os.path.basename(f).split(".")[0] for f in df.inputFiles()}
            if sid is not None:
                tr.end(sid)
                sid = tr.begin(f"query.{name}.exec")
            out[name] = df.toPandas()
            if sid is not None:
                tr.end(sid)
        return out

    def verify(self, results) -> tuple[int, list[str]]:
        from verify_local import compare

        issues = []
        for name, pdf in results.items():
            bad = compare(pdf, self.oracle[name])
            if bad:
                issues.append(f"{name}: " + " | ".join(bad)[:300])
        # the mix's input size: rows of every table each query scans
        rows = sum(self.table_rows[t] for q in results for t in self.scanned[q])
        return rows, issues


WORKLOADS = {w.name: w for w in (MigrateLake, MigrateDb, AnalyticsMix)}
