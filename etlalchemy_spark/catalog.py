"""Table catalog: named DataFrames over the fixture parquet files.

The reference models a database as a set of named SQLAlchemy Tables
reflected from the source catalog (SURVEY.md §1.1, op S1). Here a
"database" is a dict of named DataFrames, each also registered as a
temp view so the SQL API works over the same logical plans.

``SMALL_DIM_TABLES`` marks the tables an engine at 100 TB would still
broadcast (region/nation/supplier stay tiny at any TPC-H scale factor;
customer/part grow with SF but remain orders of magnitude under the
fact tables — callers broadcast those explicitly per query instead).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Bounded-size dims at ANY scale factor — always safe to broadcast.
SMALL_DIM_TABLES = {"region", "nation"}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Event-time columns whose physical parquet type has varied across
# fixture generations: TIMESTAMP(NANOS) reads as long under the legacy
# nanos flag (floor-divide to µs), TIMESTAMP_NTZ (micros, no tz) casts
# to session-UTC TIMESTAMP. Either way queries see TIMESTAMP with the
# same UTC wall-clock values.
NANOS_TS_COLS: dict[str, list[str]] = {"events": ["ts"]}


def normalize_event_time(df: DataFrame, name: str) -> DataFrame:
    """Apply the table's event-time physical-type guard (see
    NANOS_TS_COLS): nanos-as-long → integer ns→µs floor-division,
    micros NTZ → session-UTC TIMESTAMP cast. The ONE definition shared
    by the batch catalog and the streaming reader — the two drifted
    twice when this logic lived in both places."""
    for c in NANOS_TS_COLS.get(name, []):
        if c not in df.columns:
            continue
        dt = df.schema[c].dataType.simpleString()
        if dt == "bigint":
            # integer division: ns epoch (~1.7e18) overflows double, so
            # never divide in float here
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
        elif dt == "timestamp_ntz":
            # micros fixture: NTZ → TIMESTAMP interprets the wall clock
            # in the session zone (pinned UTC) — values unchanged
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


# Fan-out threshold: below this many rows a single-task scan is cheaper
# than an exchange.
_FANOUT_MIN_ROWS = 50_000


def _scan_splits(path: str, sig: tuple | None) -> tuple[int, int] | None:
    """(num_rows, num_row_groups) from the parquet footer — cached on
    (path, content signature) so an in-process fixture rewrite
    invalidates even within mtime granularity; ``sig`` is the
    signature the caller already computed (the recursive walk is
    O(files), not worth doing twice per load). Returns None (caller
    skips fanout) when the footer can't be read, e.g. a multi-file
    parquet directory. Driver-side metadata read only."""
    global _SPLIT_CACHE
    try:
        cache = _SPLIT_CACHE
    except NameError:
        cache = _SPLIT_CACHE = {}
    if sig is None:
        return None
    key = (path, sig)
    if key not in cache and len(cache) >= _TABLE_CACHE_MAX:
        try:  # bounded, oldest-inserted first; race-safe under the
            cache.pop(next(iter(cache)))  # concurrent plan builds the
        except (StopIteration, KeyError):  # plan-shape tests run
            pass
    if key not in cache:
        try:
            import pyarrow.parquet as pq

            md = pq.ParquetFile(path).metadata
            cache[key] = (md.num_rows, md.num_row_groups)
        except Exception:
            cache[key] = None
    return cache[key]


# (appId, path, fanout) → (signature, DataFrame). A DataFrame is an
# immutable logical plan; re-resolving the same parquet footer costs
# ~0.1 s of driver time per call (file-index + schema), which
# multiplies across every query build. Caching the HANDLE (not data) is
# what any engine's catalog does. The freshness signature lives in the
# VALUE, not the key, so a fixture regeneration REPLACES the stale
# entry instead of accumulating plans over deleted files; an unreadable
# signature is never cached (a degenerate shared key would serve stale
# plans). The signature is content-shaped — (mtime_ns, size) for a
# file, the sorted (name, mtime_ns, size) listing for a directory —
# because bare mtime has 1-second granularity on some filesystems and a
# regeneration within the same second would serve a cached plan whose
# captured file index points at deleted part files.
_TABLE_CACHE: dict[tuple, tuple[tuple, DataFrame]] = {}
_TABLE_CACHE_MAX = 128  # bound: oldest-inserted evicts first


def _freshness_signature(path: str) -> tuple | None:
    """Content-shaped freshness token for a table path; None when the
    path is unreadable (never cached). Driver-side metadata only: one
    stat for a file, one recursive scandir for a directory — recursive
    because partitioned layouts nest part files under key=value
    subdirectories, and an in-place rewrite down there changes neither
    the top directory's mtime nor its entry listing."""
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return ("f", st.st_mtime_ns, st.st_size)
        entries = []
        stack = [path]
        while stack:
            d = stack.pop()
            with os.scandir(d) as it:
                for e in it:
                    if e.is_dir(follow_symlinks=False):
                        stack.append(e.path)
                    else:
                        s = e.stat()
                        entries.append(
                            (os.path.relpath(e.path, path), s.st_mtime_ns, s.st_size)
                        )
        return ("d", tuple(sorted(entries)))
    except OSError:
        return None


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fanout: bool = False
) -> DataFrame:
    """Read one fixture table. Parquet scan → columnar vectorized read,
    predicate pushdown and column pruning come free from Catalyst.

    ``fanout=True``: parquet splits at ROW-GROUP granularity, and the
    fixture files are written as a single row group — so however low
    ``spark.sql.files.maxPartitionBytes`` goes, the scan is ONE task
    and every map-side stage fused to it (filters, partial aggs,
    per-row decimal math) runs on one core. Queries whose cost is
    map-side compute over the scan opt in; the fan-out exchange is
    added only when the footer confirms the file is under-split AND
    large enough to matter. Queries that immediately shuffle on a key
    (joins, windows) must NOT opt in — their keyed exchange already
    redistributes the work, and the extra round-robin pass is pure tax.
    On real lake data (many files / row groups) the condition is false
    and no exchange is added either way."""
    path = table_path(sf_dir, name)
    sig = _freshness_signature(path)
    # a fan-out frame's plan depends on the slot count it was built under
    slots = spark.sparkContext.defaultParallelism if fanout else None
    key = (spark.sparkContext.applicationId, path, slots)
    cached = _TABLE_CACHE.get(key)
    if cached is not None and sig is not None and cached[0] == sig:
        return cached[1]
    df = normalize_event_time(spark.read.parquet(path), name)
    if fanout:
        splits = _scan_splits(path, sig)
        if splits is not None:
            n_rows, n_groups = splits
            if n_rows >= _FANOUT_MIN_ROWS and n_groups < slots // 2:
                df = df.repartition(slots)
    if sig is not None:
        if key not in _TABLE_CACHE and len(_TABLE_CACHE) >= _TABLE_CACHE_MAX:
            try:  # race-safe eviction (concurrent plan builds)
                _TABLE_CACHE.pop(next(iter(_TABLE_CACHE)))
            except (StopIteration, KeyError):
                pass
        _TABLE_CACHE[key] = (sig, df)
    return df


def footer_rows(sf_dir: str, name: str) -> int | None:
    """Exact row count of a fixture table from its parquet footer —
    driver-side METADATA only, no job. None when the footer is
    unreadable (e.g. a multi-file directory), which callers must treat
    as 'not small'. Used as the size guard for broadcast decisions on
    frames whose row count is bounded by a table's id domain."""
    path = table_path(sf_dir, name)
    s = _scan_splits(path, _freshness_signature(path))
    return None if s is None else s[0]


def load_table_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A table headed into a MAP-HEAVY stage (md5-per-shingle
    batteries, decimal dot products, Arrow codec decodes): round-robin
    repartition to full parallelism, but ONLY when the parquet footer
    shows the scan is under-split (fewer row groups than half the task
    slots — parquet splits at row-group granularity, so a single-row-
    group file is ONE scan task no matter how low maxPartitionBytes
    goes, serializing every fused map stage onto one core). Unlike
    ``load_table(fanout=True)`` there is no row-count floor: callers'
    per-row map work dwarfs a row's scan cost, so even a small
    under-split table benefits. On real lake layouts (many files /
    row groups, or a multi-file directory whose footer is unreadable
    here) the guard fails and NO exchange is added — r13 shipped the
    per-module spread helpers as unconditional repartitions, which at
    scale is a pure extra pass over the corpus on every call site
    (r13 VERDICT item 2); this is the footer-guarded replacement."""
    df = load_table(spark, sf_dir, name)
    if scan_under_split(spark, sf_dir, name):
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def scan_under_split(spark: SparkSession, sf_dir: str, name: str) -> bool:
    """True when the table's parquet footer shows fewer row groups than
    half the task slots — the guard shared by ``load_table_spread`` and
    streaming call sites that spread a map-heavy stage (a micro-batch
    over an under-split file inherits the same one-core fusion). False
    when the footer is unreadable (multi-file lake layouts): no
    exchange is ever added on real lake data."""
    path = table_path(sf_dir, name)
    splits = _scan_splits(path, _freshness_signature(path))
    if splits is None:
        return False
    slots = spark.sparkContext.defaultParallelism
    return splits[1] < max(slots // 2, 1)


def load_tables(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    names: list[str] | None = None,
    register_views: bool = True,
) -> dict[str, DataFrame]:
    """Load the fixture star schema as named DataFrames (+ temp views)."""
    out: dict[str, DataFrame] = {}
    for name in names or TABLE_NAMES:
        path = table_path(sf_dir, name)
        if not os.path.exists(path):
            continue
        df = load_table(spark, sf_dir, name)
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view so ``spark.sql``
    works against the same names the DuckDB oracle uses — the SQL API
    entry point (portable SQL runs verbatim on both engines).
    Delegates to ``load_tables`` (which skips missing files)."""
    load_tables(spark, sf_dir, register_views=True)
