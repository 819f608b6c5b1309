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
Each table is one lazy DataFrame plan. On DuckDB and SQLite targets it
is read once, by the CSV stage write; the loader computes the
standardizer's stats in the destination and applies the decisions
there (sources/bulkload.py). File and JDBC targets must cast before
they write, so they run a stats pass (one agg job) and then the write
pass. Per-table phase timings mirror ``print_timings`` (O2).
"""

from __future__ import annotations

import logging
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etlalchemy_spark.operators.ddl import DDLEpilogue, FKSpec, IndexSpec, fk_orphan_count
from etlalchemy_spark.operators.rules import SchemaRules
from etlalchemy_spark.operators.standardize import standardize, varchar_metadata
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
    (in append mode, not the table's total), except on file targets,
    which re-count the written files. Caveat on ``phase_seconds``:
    Spark is lazy, so 'extract'/'transform' time only plan construction
    plus the standardizer's stats action ('standardize'); the
    extract+transform COMPUTE executes inside the write and is billed
    to 'load' — unlike the reference's eager row pipeline, where each
    phase did its own work. On DuckDB and SQLite targets the stats run
    in the destination inside the load, so 'standardize' is about 0 and
    stats time is billed to 'load' too. The phases are each table's own
    wall clock; tables load concurrently, so phases of different tables
    overlap and do not sum to the run's time."""

    table: str
    dest_table: str
    n_rows: int
    n_cols: int
    phase_seconds: dict[str, float] = field(default_factory=dict)
    decisions: list = field(default_factory=list)


@dataclass
class Migration:
    source: FileSource | JdbcSource
    target: Target
    rules: SchemaRules | None = None
    standardize_types: bool = True
    indexes: list[IndexSpec] = field(default_factory=list)
    fks: list[FKSpec] = field(default_factory=list)
    validate_fks: bool = False

    def _drop_destination(self, spark: SparkSession) -> None:
        """drop_database parity (ETLAlchemyTarget.py ≈L20–60): file
        targets remove the destination directory, duckdb/sqlite targets
        the database file, embedded-Derby JDBC targets are dropped live
        (`;drop=true` maintenance connection); server JDBC targets get
        the DROP DATABASE statement logged (execution needs a
        maintenance connection to a server this sandbox doesn't have)."""
        import shutil
        import os

        if self.target.fmt == "jdbc":
            if self.target.path.startswith("jdbc:derby:memory:"):
                drop_url = self.target.path.split(";")[0] + ";drop=true"
                try:
                    spark._jvm.java.sql.DriverManager.getConnection(drop_url)
                except Exception as e:
                    # Derby signals a SUCCESSFUL drop with SQLState
                    # 08006 ("database dropped"); a nonexistent db is
                    # XJ004 — equally done. Anything else is a real
                    # failure and must not be silently ignored (the
                    # migration would proceed into a NOT-dropped
                    # destination the user asked to destroy).
                    state = None
                    je = getattr(e, "java_exception", None)
                    if je is not None:
                        try:
                            state = je.getSQLState()
                        except Exception:
                            state = None
                    if state not in ("08006", "XJ004"):
                        raise
                return
            db = self.target.path.rsplit("/", 1)[-1].split("?")[0]
            log.warning(
                "drop_destination on a live JDBC target: issue %r on a "
                "maintenance connection before migrating",
                f"DROP DATABASE IF EXISTS {db}",
            )
            return
        if self.target.fmt in ("duckdb", "sqlite"):
            sidecars = (
                (".wal",)  # duckdb WAL naming
                if self.target.fmt == "duckdb"
                else ("-journal", "-wal", "-shm")  # sqlite sidecar naming
            )
            for p in (self.target.path, *[self.target.path + s for s in sidecars]):
                if os.path.exists(p):
                    os.remove(p)
            shutil.rmtree(self.target.path + ".csv_stage", ignore_errors=True)
            return
        shutil.rmtree(self.target.path, ignore_errors=True)

    # --- resumable-run manifest ------------------------------------------
    # The upstream reference's per-table loop restarts from zero on any
    # failure — at 100 TB (hours of load time) that is fatal. Every run
    # records per-table completion in a small JSON manifest; a re-run
    # with ``resume=True`` skips tables recorded 'loaded' and re-runs
    # tables recorded 'loading' (a crash mid-load left partial rows —
    # those are overwritten, never appended to).

    def _manifest_path(self) -> str:
        import hashlib
        import os
        import tempfile

        t = self.target
        if t.manifest_path:
            return t.manifest_path
        if t.fmt in ("duckdb", "sqlite"):
            return t.path + ".manifest.json"
        if t.fmt == "jdbc":
            # key the default manifest on the (source, destination)
            # PAIR: keyed on the destination url alone, a later
            # migration from a DIFFERENT source to the same database
            # would adopt the first run's manifest and silently skip
            # its own tables as 'loaded'. Distinct migrations now get
            # distinct manifests; concurrent runs of the SAME pair
            # still race — point manifest_path at durable per-run
            # storage for those.
            src_id = getattr(self.source, "url", None) or getattr(
                self.source, "path", ""
            )
            h = hashlib.md5(f"{src_id}->{t.path}".encode()).hexdigest()[:12]
            return os.path.join(
                tempfile.gettempdir(), f"etlalchemy_spark_manifest_{h}.json"
            )
        return os.path.join(t.path, "_migration_manifest.json")

    def _load_manifest(self) -> dict:
        import json
        import os

        p = self._manifest_path()
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def _save_manifest(self, manifest: dict) -> None:
        import json
        import os

        p = self._manifest_path()
        os.makedirs(os.path.dirname(p) or ".", exist_ok=True)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, p)  # atomic: a crash never leaves a torn manifest

    def _dest_table_exists(self, spark: SparkSession, dest_name: str) -> bool:
        """Cheap destination existence probe per target kind — the
        resume path's guard against trusting a manifest whose
        destination has been recreated empty behind our back."""
        import os

        t = self.target
        if t.fmt == "jdbc":
            try:
                (
                    spark.read.format("jdbc")
                    .option("url", t.path)
                    .option("dbtable", dest_name)
                    .load()
                    .schema  # resolved via a zero-row metadata query
                )
                return True
            except Exception as e:
                # ONLY a definitive missing-object error means "absent".
                # Treating a transient failure (network blip, auth
                # timeout) as absent would re-run the table — on an
                # append-mode target that silently duplicates every
                # row. Check the SQLState chain for the dialects'
                # missing-table codes; anything else propagates.
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
        if t.fmt == "duckdb":
            import duckdb

            if not os.path.exists(t.path):
                return False
            con = duckdb.connect(t.path, read_only=True)
            try:
                return bool(
                    con.execute(
                        "SELECT 1 FROM information_schema.tables WHERE table_name = ?",
                        [dest_name],
                    ).fetchall()
                )
            finally:
                con.close()
        if t.fmt == "sqlite":
            import sqlite3

            if not os.path.exists(t.path):
                return False
            con = sqlite3.connect(t.path)
            try:
                return bool(
                    con.execute(
                        "SELECT 1 FROM sqlite_master WHERE type='table' AND name=?",
                        [dest_name],
                    ).fetchall()
                )
            finally:
                con.close()
        return os.path.exists(
            os.path.join(t.path, f"{dest_name}.{t.fmt}")
        )

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
        """One table's read → rules → standardize → write → audit chain,
        bracketed by its 'loading' and 'loaded' manifest entries."""
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

        decisions = []
        suffixes = self.rules.ignored_col_suffixes if self.rules else None
        bulk = self.target.fmt in ("duckdb", "sqlite")
        if self.standardize_types and not bulk:
            df, decisions = standardize(df, suffixes)
        t_std = time.monotonic()

        n_loaded: int | None = None
        if self.target.fmt == "jdbc":
            # O2 metrics from the WRITE job itself: an Observation
            # node rides the plan the jdbc write executes, so the
            # row count comes out of the same single pass — the old
            # df.count() here lazily re-executed the whole
            # read→rules→standardize pipeline a second time per
            # table (2x source scans at any scale).
            from pyspark.sql import Observation

            obs = Observation(f"migrate_{dest_name}")
            write_jdbc(
                df.observe(obs, F.count(F.lit(1)).alias("rows")),
                self.target.path,
                dest_name,
                mode="errorifexists" if table_mode == "error" else table_mode,
                varchar_meta=varchar_metadata(decisions),
            )
            n_loaded = int(obs.get["rows"])
        elif bulk:
            # W3 native bulk path: per-partition dialect CSV +
            # native loader into the embedded destination DB
            # (duckdb INSERT … SELECT FROM read_csv / sqlite
            # .import-equivalent). One source read: the loader
            # computes standardize's stats in the destination from the
            # staged rows and applies the decisions there.
            from etlalchemy_spark.sources.bulkload import (
                LoadReport,
                bulk_load_duckdb,
                bulk_load_sqlite,
            )

            loader = (
                bulk_load_duckdb if self.target.fmt == "duckdb" else bulk_load_sqlite
            )
            load = LoadReport()
            loader(
                df,
                self.target.path,
                dest_name,
                f"{self.target.path}.csv_stage/{dest_name}",
                mode=table_mode,
                standardize_types=self.standardize_types,
                ignored_suffixes=suffixes,
                report=load,
            )
            n_loaded, df = load.rows, load.loaded
            if self.standardize_types:
                decisions = load.decisions
        else:
            write_file(
                df, f"{self.target.path.rstrip('/')}/{dest_name}.{self.target.fmt}",
                fmt=self.target.fmt,
                mode="errorifexists" if table_mode == "error" else table_mode,
            )
        t_write = time.monotonic()

        if n_loaded is not None:
            n_rows = n_loaded
        else:
            # count from the WRITTEN files (parquet/orc footers, csv
            # line scan) — a df.count() here would lazily re-execute
            # the whole read→rules→standardize pipeline a second time
            n_rows = read_file(
                spark,
                f"{self.target.path.rstrip('/')}/{dest_name}.{self.target.fmt}",
                fmt=self.target.fmt,
            ).count()
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
                "standardize": round(t_std - t_rules, 3),
                "load": round(t_write - t_std, 3),
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
        import os

        if self.target.drop_destination:
            self._drop_destination(spark)
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
                if self._dest_table_exists(spark, dest_name):
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
            # still runs. Targets we can't cheaply read back (none today)
            # would warn rather than stay silent.
            def _side(dest_name):
                if dest_name in loaded:
                    return loaded[dest_name]
                if dest_name not in skipped:
                    return None
                t = self.target
                if t.fmt == "jdbc":
                    return (
                        spark.read.format("jdbc")
                        .option("url", t.path)
                        .option("dbtable", dest_name)
                        .load()
                    )
                if t.fmt in ("duckdb", "sqlite"):
                    # embedded db files aren't Spark-readable without an
                    # export round trip — too heavy for a validation
                    # epilogue; be loud instead of silent
                    log.warning(
                        "resume: FK validation for skipped table %s "
                        "unavailable on a %s target — re-run without "
                        "resume to validate",
                        dest_name,
                        t.fmt,
                    )
                    return None
                return read_file(
                    spark,
                    f"{t.path.rstrip('/')}/{dest_name}.{t.fmt}",
                    fmt=t.fmt,
                )

            for fk in self.fks:
                child, parent = _side(fk.table), _side(fk.ref_table)
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
