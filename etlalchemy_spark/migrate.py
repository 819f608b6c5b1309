"""Migration orchestration — the reference's flagship entry point.

Re-expresses O1/O2/O3 + the per-table pipeline of
``ETLAlchemySource.migrate`` / ``ETLAlchemyTarget.migrate`` (upstream
≈L850–1100 / ≈L10–100; SURVEY.md §0 caveat, §3.1 lifecycle):

    reflect → include/exclude → rules (X1–X4) → standardize (T1–T9)
    → write → index/FK DDL epilogue → timings

The reference's 4-line API maps to:

    src = FileSource("/data/src", fmt="parquet")          # or JdbcSource
    tgt = Target("/data/dst", fmt="parquet")              # or jdbc URL
    Migration(src, tgt, rules=...).run()

Phase ordering is preserved: data loads BEFORE index/FK DDL emission
(bulk-load speed; FK targets must exist — SURVEY.md §3.1 step 2).
Unlike the reference's one-table-at-a-time loop, independent tables
migrate concurrently: reflection and every resume decision run first,
serially; then each table's read → rules → standardize → write chain
runs on a pool of ``min(tables, defaultParallelism)`` driver threads
that inherit the caller's job group. A table is marked 'loading' in the
manifest when its own load starts and 'loaded' when it ends; the first
failure stops new tables from starting, lets the ones in flight finish,
and is re-raised. Reports and DDL keep reflection order.
Everything destination-specific sits behind one sink per target kind
(upstream keeps it behind ``ETLAlchemyTarget``): ``Migration._sink`` is
the one dispatch on ``Target.fmt`` and picks a file-directory, DuckDB,
SQLite or JDBC sink. Each sink drops the destination, names the default
resume manifest, probes a table's existence, loads a table and reads a
loaded table back for FK validation. Each table is one lazy DataFrame
plan, loaded in one of two shapes:

- file and JDBC sinks cast before they write: a stats pass (one agg
  job), then one write whose Observation counts the rows it wrote;
- DuckDB and SQLite sinks read the plan once, by one ``toArrow()`` of
  the columns they may keep; the loader computes the standardizer's
  stats in the destination and applies the decisions there
  (sources/bulkload.py).

"Rows" is the rows this run loaded on every sink. Per-table phase
timings mirror ``print_timings`` (O2).
"""

from __future__ import annotations

import hashlib
import json
import logging
import os
import shutil
import tempfile
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from etlalchemy_spark.operators.ddl import DDLEpilogue, FKSpec, IndexSpec, fk_orphan_count
from etlalchemy_spark.operators.rules import SchemaRules
from etlalchemy_spark.operators.standardize import standardize, varchar_metadata
from etlalchemy_spark.sources import bulkload
from etlalchemy_spark.sources.files import read_file, write_file
from etlalchemy_spark.sources.jdbc import read_jdbc_partitioned, write_jdbc
from etlalchemy_spark.sources.reflection import TableInfo, reflect_dir, reflect_jdbc

log = logging.getLogger("etlalchemy_spark.migrate")


@dataclass
class FileSource:
    path: str
    fmt: str = "parquet"
    included_tables: list[str] | None = None
    excluded_tables: list[str] | None = None


@dataclass
class JdbcSource:
    """Live database source (the reference's primary extract side):
    tables are enumerated through the engine's system catalog
    (reflect_jdbc) and each is pulled over JDBC — partitioned range
    scans when ``partition_columns`` names the table's numeric split
    key, a plain scan otherwise.

    ``table_filters`` maps table name → a Spark SQL condition applied
    to that table's extract; Catalyst pushes every translatable
    conjunct into the source query's WHERE clause
    (read_jdbc_partitioned's pushDownPredicate), so a filtered
    migration ships only the matching rows off the source — the
    upstream reference's per-table ``SELECT *`` is the documented
    anti-pattern this replaces."""

    url: str
    included_tables: list[str] | None = None
    excluded_tables: list[str] | None = None
    partition_columns: dict[str, str] = field(default_factory=dict)
    table_filters: dict[str, str] = field(default_factory=dict)
    num_partitions: int = 8
    # Scope reflection to one schema/catalog — the way to resolve
    # same-named tables across schemas (include/exclude filters match
    # the BARE table name, so they cannot keep one of two same-named
    # tables; the schema filter can).
    schema: str | None = None
    catalog: str | None = None
    options: dict[str, str] = field(default_factory=dict)


@dataclass
class Target:
    """Destination handle — upstream ``ETLAlchemyTarget(url,
    drop_database=...)`` (ETLAlchemyTarget.py ≈L20–60).

    ``mode`` maps to every sink: error (fail if the destination table
    exists), overwrite (drop + recreate — upstream's default behavior
    after a drop_database), append. ``drop_destination`` is the
    drop_database parity: remove the WHOLE destination before the
    first table loads (file target: delete the directory;
    duckdb/sqlite target: delete the database file; embedded-Derby
    JDBC: dropped LIVE via the ;drop=true maintenance connection —
    executed in tests; a networked server gets the dialect's DROP
    DATABASE logged for a maintenance connection this sandbox cannot
    open)."""

    path: str  # directory (file target), .duckdb/.sqlite file, or JDBC url
    fmt: str = "parquet"  # parquet/csv/json/orc, "duckdb", "sqlite", or "jdbc"
    dialect: str = "postgresql"  # for csv conventions / jdbc DDL
    mode: str = "overwrite"  # error | overwrite | append
    drop_destination: bool = False
    # Completion manifest for resumable runs (see Migration.run's
    # ``resume``): one JSON file recording per-table phase + rows.
    # None → a per-target default (inside the destination directory for
    # file targets, a sidecar for db-file targets, a url-keyed temp
    # file for jdbc — real deployments should point jdbc manifests at
    # durable storage explicitly).
    manifest_path: str | None = None


@dataclass
class TableReport:
    """O2 per-table metrics. ``n_rows`` is the rows this run loaded
    (in append mode, not the table's total) on every target. Caveat on
    ``phase_seconds``: Spark is lazy, so 'extract'/'transform' time only
    plan construction; the extract+transform COMPUTE executes inside the
    sink's write and is billed to 'load', as are the standardizer's
    stats (a Spark action on file and JDBC targets, a SQL aggregate in
    the destination on DuckDB and SQLite targets, after the one Spark
    job that hands the staged columns over as Arrow) — unlike the
    reference's eager row pipeline, where each phase did its own work.
    The phases are each table's own wall clock; tables load
    concurrently, so phases of different tables overlap and do not sum
    to the run's time."""

    table: str
    dest_table: str
    n_rows: int
    n_cols: int
    phase_seconds: dict[str, float] = field(default_factory=dict)
    decisions: list = field(default_factory=list)


@dataclass
class _Sink:
    """Where a migration's tables land; ``Migration._sink`` picks one per
    target kind. Each sink has ``drop``, ``manifest_path`` (the default),
    ``exists``, ``load`` → (rows this run loaded, loaded frame,
    decisions) and ``read_back``."""

    t: Target
    standardize_types: bool
    suffixes: list[str] | None


class _SparkSink(_Sink):
    """File and JDBC targets: ``standardize()`` in Spark, then one write
    whose Observation counts the rows it wrote (one job, no re-count)."""

    def load(self, df: DataFrame, table: str, mode: str) -> tuple[int, DataFrame, list]:
        decisions = []
        if self.standardize_types:
            df, decisions = standardize(df, self.suffixes)
        obs = Observation(f"migrate_{table}")
        self._write(
            df.observe(obs, F.count(F.lit(1)).alias("rows")),
            table,
            "errorifexists" if mode == "error" else mode,
            decisions,
        )
        return int(obs.get["rows"]), df, decisions


class _FileSink(_SparkSink):
    """A directory holding one ``{table}.{fmt}`` dataset per table."""

    def _path(self, table: str) -> str:
        return f"{self.t.path.rstrip('/')}/{table}.{self.t.fmt}"

    def drop(self, spark: SparkSession) -> None:
        shutil.rmtree(self.t.path, ignore_errors=True)

    def manifest_path(self, source) -> str:
        return os.path.join(self.t.path, "_migration_manifest.json")

    def exists(self, spark: SparkSession, table: str) -> bool:
        return os.path.exists(self._path(table))

    def _write(self, df: DataFrame, table: str, mode: str, decisions: list) -> None:
        write_file(df, self._path(table), fmt=self.t.fmt, mode=mode)

    def read_back(self, spark: SparkSession, table: str) -> DataFrame:
        return read_file(spark, self._path(table), fmt=self.t.fmt)


class _JdbcSink(_SparkSink):
    """A live database reached over JDBC."""

    def drop(self, spark: SparkSession) -> None:
        """Embedded Derby is dropped live (``;drop=true`` maintenance
        connection); a server gets the DROP DATABASE statement logged
        (executing it needs a maintenance connection to the server)."""
        if self.t.path.startswith("jdbc:derby:memory:"):
            try:
                spark._jvm.java.sql.DriverManager.getConnection(self.t.path.split(";")[0] + ";drop=true")
            except Exception as e:
                # Derby signals a SUCCESSFUL drop with SQLState 08006
                # ("database dropped"); a nonexistent db is XJ004 —
                # equally done. Anything else is a real failure and must
                # not be silently ignored (the migration would proceed
                # into a NOT-dropped destination the user asked to
                # destroy).
                je = getattr(e, "java_exception", None)
                try:
                    state = je.getSQLState() if je is not None else None
                except Exception:
                    state = None
                if state not in ("08006", "XJ004"):
                    raise
            return
        db = self.t.path.rsplit("/", 1)[-1].split("?")[0]
        log.warning(
            "drop_destination on a live JDBC target: issue %r on a "
            "maintenance connection before migrating",
            f"DROP DATABASE IF EXISTS {db}",
        )

    def manifest_path(self, source) -> str:
        # key the default manifest on the (source, destination) PAIR:
        # keyed on the destination url alone, a later migration from a
        # DIFFERENT source to the same database would adopt the first
        # run's manifest and silently skip its own tables as 'loaded'.
        # Concurrent runs of the SAME pair still race — point
        # manifest_path at durable per-run storage for those.
        src_id = getattr(source, "url", None) or getattr(source, "path", "")
        h = hashlib.md5(f"{src_id}->{self.t.path}".encode()).hexdigest()[:12]
        return os.path.join(tempfile.gettempdir(), f"etlalchemy_spark_manifest_{h}.json")

    def exists(self, spark: SparkSession, table: str) -> bool:
        try:
            self.read_back(spark, table).schema  # resolved via a zero-row metadata query
            return True
        except Exception as e:
            # ONLY a definitive missing-object error means "absent".
            # Treating a transient failure (network blip, auth timeout)
            # as absent would re-run the table — on an append-mode
            # target that silently duplicates every row. Check the
            # SQLState chain for the dialects' missing-table codes;
            # anything else propagates.
            missing_states = {"42X05", "42P01", "42S02", "S0002", "42704"}
            je = getattr(e, "java_exception", None)
            while je is not None:
                try:
                    state = je.getSQLState()
                except Exception:
                    state = None
                if state in missing_states:
                    return False
                msg = str(getattr(je, "getMessage", lambda: "")() or "")
                if "ORA-00942" in msg:  # Oracle: table or view does not exist
                    return False
                je = getattr(je, "getCause", lambda: None)()
            if "TABLE_OR_VIEW_NOT_FOUND" in str(e):
                return False
            raise

    def _write(self, df: DataFrame, table: str, mode: str, decisions: list) -> None:
        write_jdbc(df, self.t.path, table, mode=mode, varchar_meta=varchar_metadata(decisions))

    def read_back(self, spark: SparkSession, table: str) -> DataFrame:
        return spark.read.format("jdbc").option("url", self.t.path).option("dbtable", table).load()


class _DbFileSink(_Sink):
    """An embedded database file loaded through the W3 native bulk path
    (sources/bulkload.py): one source read, by the Arrow handoff of the
    staged columns; the loader computes standardize's stats in the
    destination and applies the decisions there. A table is read back
    as one Arrow table held on the driver."""

    sidecars: tuple[str, ...] = ()

    def drop(self, spark: SparkSession) -> None:
        for p in (self.t.path, *(self.t.path + s for s in self.sidecars)):
            if os.path.exists(p):
                os.remove(p)
        # the CSV stage directory versions before the Arrow handoff left
        shutil.rmtree(self.t.path + ".csv_stage", ignore_errors=True)

    def manifest_path(self, source) -> str:
        return self.t.path + ".manifest.json"

    def exists(self, spark: SparkSession, table: str) -> bool:
        if not os.path.exists(self.t.path):
            return False
        con, columns = self._open()
        try:
            return columns(con, table) is not None
        finally:
            con.close()

    def load(self, df: DataFrame, table: str, mode: str) -> tuple[int, DataFrame, list]:
        report = bulkload.LoadReport()
        self._bulk_load(
            df,
            self.t.path,
            table,
            mode=mode,
            standardize_types=self.standardize_types,
            ignored_suffixes=self.suffixes,
            report=report,
        )
        return report.rows, report.loaded, report.decisions if self.standardize_types else []


class _DuckDBSink(_DbFileSink):
    sidecars = (".wal",)

    def _open(self):
        import duckdb

        return duckdb.connect(self.t.path, read_only=True), bulkload._duckdb_columns

    def _bulk_load(self, *args, **kwargs) -> int:
        return bulkload.bulk_load_duckdb(*args, **kwargs)

    def read_back(self, spark: SparkSession, table: str) -> DataFrame:
        return bulkload.read_duckdb_table(spark, self.t.path, table)


class _SQLiteSink(_DbFileSink):
    sidecars = ("-journal", "-wal", "-shm")

    def _open(self):
        import sqlite3

        return sqlite3.connect(self.t.path), bulkload._sqlite_columns

    def _bulk_load(self, *args, **kwargs) -> int:
        return bulkload.bulk_load_sqlite(*args, **kwargs)

    def read_back(self, spark: SparkSession, table: str) -> DataFrame:
        return bulkload.read_sqlite_table(spark, self.t.path, table)


@dataclass
class Migration:
    source: FileSource | JdbcSource
    target: Target
    rules: SchemaRules | None = None
    standardize_types: bool = True
    indexes: list[IndexSpec] = field(default_factory=list)
    fks: list[FKSpec] = field(default_factory=list)
    validate_fks: bool = False

    def _sink(self) -> _Sink:
        """The one dispatch on ``target.fmt``."""
        kinds = {"jdbc": _JdbcSink, "duckdb": _DuckDBSink, "sqlite": _SQLiteSink}
        suffixes = self.rules.ignored_col_suffixes if self.rules else None
        return kinds.get(self.target.fmt, _FileSink)(self.target, self.standardize_types, suffixes)

    # --- resumable-run manifest ------------------------------------------
    # The upstream reference's per-table loop restarts from zero on any
    # failure — at 100 TB (hours of load time) that is fatal. Every run
    # records per-table completion in a small JSON manifest; a re-run
    # with ``resume=True`` skips tables recorded 'loaded' and re-runs
    # tables recorded 'loading' (a crash mid-load left partial rows —
    # those are overwritten, never appended to).

    def _manifest_path(self) -> str:
        return self.target.manifest_path or self._sink().manifest_path(self.source)

    def _load_manifest(self) -> dict:
        p = self._manifest_path()
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def _save_manifest(self, manifest: dict) -> None:
        p = self._manifest_path()
        os.makedirs(os.path.dirname(p) or ".", exist_ok=True)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, p)  # atomic: a crash never leaves a torn manifest

    def _load_concurrently(
        self,
        spark: SparkSession,
        plan: list[tuple[TableInfo, str, str]],
        manifest: dict,
    ) -> list[tuple[TableReport, DataFrame]]:
        """Run ``_load_table`` for every planned table on a bounded
        pool; results in plan order. After the first failure no table
        starts (queued ones return untouched), the ones in flight
        finish, and that first failure is re-raised."""
        lock = threading.Lock()  # guards manifest and its file
        failures: list[BaseException] = []  # in the order they happened

        def work(info, dest_name, mode):
            if failures:
                return None
            try:
                return self._load_table(spark, info, dest_name, mode, manifest, lock)
            except BaseException as e:
                failures.append(e)
                raise

        width = max(1, min(len(plan), spark.sparkContext.defaultParallelism))
        with ThreadPoolExecutor(max_workers=width) as pool:
            # wrapped per table: each worker gets its own copy of the
            # caller's local properties (job group included) — one
            # shared copy would carry a table's SQL execution id into
            # another table's jobs
            futures = [
                pool.submit(inheritable_thread_target(spark)(work), *p) for p in plan
            ]
        if failures:
            for e in failures[1:]:
                log.warning("another table failed too: %r", e)
            raise failures[0]
        return [f.result() for f in futures]

    def _load_table(
        self,
        spark: SparkSession,
        info: TableInfo,
        dest_name: str,
        table_mode: str,
        manifest: dict,
        lock: threading.Lock,
    ) -> tuple[TableReport, DataFrame]:
        """One table's read → rules → sink load chain, bracketed by its
        'loading' and 'loaded' manifest entries."""
        t0 = time.monotonic()
        name = info.name
        with lock:
            manifest[name] = {"phase": "loading", "dest": dest_name}
            self._save_manifest(manifest)
        if info.fmt == "jdbc":
            df = read_jdbc_partitioned(
                spark,
                self.source.url,
                info.location,
                partition_column=self.source.partition_columns.get(name),
                num_partitions=self.source.num_partitions,
                where=self.source.table_filters.get(name),
                **self.source.options,
            )
        else:
            df = read_file(spark, info.location, info.fmt)
        t_read = time.monotonic()

        if self.rules:
            df = self.rules.transform(name, df)
        t_rules = time.monotonic()

        n_rows, df, decisions = self._sink().load(df, dest_name, table_mode)
        t_load = time.monotonic()
        with lock:
            manifest[name] = {"phase": "loaded", "dest": dest_name, "rows": n_rows}
            self._save_manifest(manifest)
        report = TableReport(
            table=name,
            dest_table=dest_name,
            n_rows=n_rows,
            n_cols=len(df.columns),
            phase_seconds={
                "extract": round(t_read - t0, 3),
                "transform": round(t_rules - t_read, 3),
                "load": round(t_load - t_rules, 3),
            },
            decisions=decisions,
        )
        return report, df

    def run(
        self, spark: SparkSession, resume: bool = False
    ) -> tuple[list[TableReport], list[str]]:
        """Execute the migration; returns (per-table reports, DDL strings).

        A serial plan step drops the destination if asked, reflects the
        source and decides every table's fate: deleted by rule, skipped
        on resume, or loaded in which mode. The tables to load then run
        concurrently, each its own read → rules → standardize → write
        chain (``_load_table``), on ``min(tables, defaultParallelism)``
        driver threads: Spark's task slots bound the source and
        destination connections, the threads only overlap each table's
        latency-bound steps. Workers inherit the caller's Spark local
        properties (job group included), so cancelling the caller's
        group cancels the migration's jobs. Reports, DDL and the FK
        epilogue follow reflection order, never completion order, and
        all index/FK DDL waits until every table is loaded (the
        reference's phase order).

        On the first failure no further table starts; tables already in
        flight finish and record 'loaded', then the first error is
        re-raised — the most completed work is kept for a resume.

        ``resume=True`` continues a previous run of the SAME migration:
        tables the manifest records as 'loaded' are skipped outright,
        tables caught mid-load ('loading' — partial rows may exist at
        the destination) are re-run with overwrite semantics regardless
        of ``target.mode``, and unseen tables run normally. A table is
        marked 'loading' only when its own load starts, so a table that
        never started has no entry. The manifest is written on every
        run (resume or not) so any run is resumable after a crash.
        """
        if self.target.mode not in ("error", "overwrite", "append"):
            raise ValueError(f"unknown mode {self.target.mode!r}: use error, overwrite or append")
        sink = self._sink()
        if self.target.drop_destination:
            sink.drop(spark)
            mp = self._manifest_path()
            if os.path.exists(mp):
                os.remove(mp)  # a dropped destination has no history
        manifest = self._load_manifest() if resume else {}
        if isinstance(self.source, JdbcSource):
            tables = reflect_jdbc(
                spark,
                self.source.url,
                self.source.included_tables,
                self.source.excluded_tables,
                catalog=self.source.catalog,
                schema=self.source.schema,
                **self.source.options,
            )
        else:
            tables = reflect_dir(
                spark,
                self.source.path,
                self.source.fmt,
                self.source.included_tables,
                self.source.excluded_tables,
                with_schema=False,
            )
        # Every resume decision is made here, before any load starts:
        # the destination probes (a read-only DuckDB open conflicts with
        # a load's read-write one) and the append-partial refusal.
        plan: list[tuple[TableInfo, str, str]] = []  # (info, dest_name, mode)
        skipped: dict[str, str] = {}  # dest_name -> source name (resume skips)
        for info in tables:
            name = info.name
            dest_name = self.rules.transform_table_name(name) if self.rules else name
            if dest_name is None:  # X2: table deleted by rule
                log.info("skipping table %s (delete rule)", name)
                continue
            prior = manifest.get(name)
            if resume and prior and prior.get("phase") == "loaded":
                # trust-but-verify: a manifest can outlive its
                # destination (url-keyed jdbc temp manifests especially
                # — an in-memory Derby dies with its JVM, a server db
                # can be dropped/recreated behind our back). Skipping a
                # table the destination does not actually hold would
                # turn resume into silent data loss.
                if sink.exists(spark, dest_name):
                    log.info(
                        "resume: skipping %s (already loaded, %s rows)",
                        name,
                        prior.get("rows"),
                    )
                    skipped[dest_name] = name
                    continue
                log.warning(
                    "resume: manifest says %s is loaded but the "
                    "destination has no such table — re-running it",
                    name,
                )
                prior = None
            # a 'loading' entry means a prior run died mid-load: partial
            # rows may exist at the destination — they must be replaced,
            # never appended to or refused
            partial = resume and prior is not None and prior.get("phase") == "loading"
            if partial and self.target.mode == "append":
                # overwrite would also destroy whatever the table held
                # BEFORE this migration ever ran, and append would
                # duplicate the crashed run's partial rows — neither is
                # safe without row identity. Fail loudly instead.
                raise ValueError(
                    f"resume: table {dest_name!r} was mid-load in append "
                    "mode; its partial rows cannot be distinguished from "
                    "pre-existing destination rows. Clean the table (or "
                    "use mode='overwrite' if the destination table is "
                    "exclusively this migration's) and re-run."
                )
            plan.append((info, dest_name, "overwrite" if partial else self.target.mode))

        results = self._load_concurrently(spark, plan, manifest)
        reports = [report for report, _ in results]
        loaded = {r.dest_table: df for r, df in results}
        for r in reports:
            log.info("migrated %s → %s (%d rows)", r.table, r.dest_table, r.n_rows)

        # DDL epilogue AFTER all data (reference phase order).
        epilogue = DDLEpilogue(self.target.dialect)
        for ix in self.indexes:
            epilogue.add_index(ix)
        for fk in self.fks:
            epilogue.add_fk(fk)
        ddl = epilogue.index_ddl() + epilogue.fk_ddl()

        if self.validate_fks and self.fks:
            # a resumed run skipped some tables, but skipping a LOAD must
            # not silently skip its VALIDATION: read skipped tables back
            # from the destination so every FK check a fresh run performs
            # still runs, on every target.
            fk_tables = {t for fk in self.fks for t in (fk.table, fk.ref_table)}
            sides = {t: sink.read_back(spark, t) for t in fk_tables & skipped.keys()}
            sides.update(loaded)
            for fk in self.fks:
                child, parent = sides.get(fk.table), sides.get(fk.ref_table)
                if child is not None and parent is not None:
                    row = fk_orphan_count(child, parent, fk).collect()[0]
                    if row["n_orphans"]:
                        log.warning("FK %s has %d orphans", row["fk"], row["n_orphans"])
        return reports, ddl


def print_timings(reports: list[TableReport]) -> str:
    """O2: the reference's per-table phase timing summary."""
    lines = []
    for r in reports:
        phases = ", ".join(f"{k}={v}s" for k, v in r.phase_seconds.items())
        lines.append(f"{r.table} -> {r.dest_table}: {r.n_rows} rows, {r.n_cols} cols [{phases}]")
    return "\n".join(lines)
