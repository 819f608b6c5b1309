"""Seeded input generation for the benchmark.

Everything the workloads read is made here from ``--seed``: the lake
fixture (the engine's ten-table star schema + events/documents/
embeddings, with the same column names and physical types the query
registry expects), the salted lake replicas for ``migrate_lake``, the
live-database catalog and rules CSV for ``migrate_db``, and the query
order for ``analytics_mix``. The same seed always yields the same
inputs. Generation is pure numpy/pyarrow (no Spark), is never timed,
and parquet inputs are cached on disk per (seed, size).
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Rows per table at scale 1.0 (= the engine's sf0.01 fixture shape).
_BASE_ROWS = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
}
_WORDS = (
    "a the agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table value vector window"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

# key columns offset per lake replica (tools/sf1_scaling.py's layout):
# one stride per replica on both sides of every FK keeps joins
# consistent inside a replica while replicas never collide
REPLICA_KEYS = {
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
}


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform 2-decimal amounts (exact in DECIMAL, like the fixture)."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def lake_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The ten-table fixture at ``scale`` × sf0.01 row counts."""
    rng = np.random.default_rng([seed, 1])
    n = {k: max(int(v * scale), 10) for k, v in _BASE_ROWS.items()}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    names = [f"{a} {b}" for a in _P_ADJ for b in _P_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": np.array(names)[rng.integers(0, len(names), npart)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": np.array(_P_TYPES)[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1),
    })
    no = n["orders"]
    odate = _EPOCH_1995_US + rng.integers(0, 2404, no) * _DAY_US
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    lok = np.sort(rng.integers(0, no, nl))
    # line numbers restart per order (1..k), like the fixture
    starts = np.r_[0, np.flatnonzero(np.diff(lok)) + 1]
    run = np.arange(nl) - np.repeat(starts, np.diff(np.r_[starts, nl]))
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(run + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(odate[lok] + rng.integers(-90, 91, nl) * _DAY_US),
    })
    ne = n["events"]
    gaps = rng.exponential(259e6, ne).astype("int64") + 1
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(_EPOCH_2024_US + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, max(ne // 66, 2), ne), pa.int64()),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document (dedup queries)
            base = texts[int(rng.integers(0, i))].split()
            base[int(rng.integers(0, len(base)))] = _WORDS[int(rng.integers(0, 30))]
            texts.append(" ".join(base + ["dup"]))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(np.array(_WORDS)[rng.integers(0, 30, k)]))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    return out


def replicate(tables: dict[str, pa.Table], copies: int, seed: int) -> dict[str, pa.Table]:
    """``copies`` re-salted replicas of each keyed table (nation/region
    are fixed-size dimensions and stay single). Each replica's stride
    is a seeded multiple of 10**7, above every generated key. Strides
    stay below 2**31 - 10**7, so salted keys fit a 32-bit INT for every
    seed: standardize then makes the same casts whatever the seed, and
    every seed does the same work."""
    rng = np.random.default_rng([seed, 2])
    salts = [0] + sorted(
        int(s) * 10_000_000 for s in rng.choice(np.arange(1, 214), copies - 1, replace=False)
    )
    out = {}
    for name, tbl in tables.items():
        keys = REPLICA_KEYS.get(name)
        if not keys:
            out[name] = tbl
            continue
        parts = []
        for salt in salts:
            t = tbl
            for k in keys:
                i = t.schema.get_field_index(k)
                t = t.set_column(i, k, pa.array(t[k].to_numpy() + salt, pa.int64()))
            parts.append(t)
        out[name] = pa.concat_tables(parts)
    return out


def write_lake(tables: dict[str, pa.Table], path: str) -> None:
    """One single-row-group parquet file per table (the fixture layout),
    written atomically so an interrupted run never leaves a half lake."""
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"), row_group_size=1 << 30)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)


def cached_lake(root: str, seed: int, scale: float, copies: int = 1) -> tuple[str, dict[str, pa.Table]]:
    """The lake for (seed, scale, copies) under ``root``: generated once,
    then read back from disk on later runs with the same seed."""
    path = os.path.join(root, f"lake_s{seed}_x{scale:g}_r{copies}")
    if os.path.isdir(path):
        return path, {t: pq.read_table(os.path.join(path, f"{t}.parquet")) for t in TABLES}
    tables = lake_tables(seed, scale)
    if copies > 1:
        tables = replicate(tables, copies, seed)
    write_lake(tables, path)
    return path, tables


# --- live-database catalog (migrate_db) -------------------------------------

# The star-schema tables copied into the database as-is, with their
# partitioned-extract key (None: a plain single-partition scan).
DB_STAR_KEYS = {
    "region": None, "nation": None, "supplier": "s_suppkey",
    "customer": "c_custkey", "part": "p_partkey", "orders": "o_orderkey",
    "lineitem": "l_orderkey",
}
IGNORED_SUFFIX = "_ignored"


def db_catalog(
    seed: int, scale: float, star: list[str], n_extra: int
) -> tuple[dict[str, pa.Table], dict[str, str]]:
    """Source database content for ``migrate_db``: the ``star`` tables
    plus ``n_extra`` seeded tables. Each extra table is a seeded key range
    of ``lineitem`` or ``orders`` (3000 × scale rows) with a seeded
    choice of four columns, an injected 0/1 flag (standardize infers BOOLEAN), an
    all-NULL column (standardize drops it) and a column the rules
    ignore by suffix. Sizes do not depend on the seed, only contents.
    Returns (tables, partition column per table)."""
    full = lake_tables(seed, scale)
    rng = np.random.default_rng([seed, 3])
    tables = {k: full[k] for k in star}
    keys = {k: DB_STAR_KEYS[k] for k in star if DB_STAR_KEYS[k]}
    for i in range(n_extra):
        base_name = "lineitem" if i % 2 == 0 else "orders"
        key = "l_orderkey" if base_name == "lineitem" else "o_orderkey"
        base = full[base_name]
        width = int(3000 * scale)
        t = base.slice(int(rng.integers(0, base.num_rows - width)), width)
        others = [c for c in t.column_names if c != key]
        t = t.select([key] + [others[j] for j in sorted(rng.choice(len(others), 4, replace=False))])
        m = t.num_rows
        t = t.append_column("flag", pa.array(rng.integers(0, 2, m), pa.int32()))
        t = t.append_column("unused", pa.nulls(m, pa.int64()))
        t = t.append_column(f"note{IGNORED_SUFFIX}", pa.array([f"n{j}" for j in range(m)]))
        name = f"x{i:02d}_{base_name}"
        tables[name] = t
        keys[name] = key
    return tables, keys


def db_rules(seed: int, table_names: list[str]) -> tuple[str, str]:
    """Rules CSVs in the reference format: (table rules, column rules).
    Renames up to two of the extra tables, deletes one more when there
    are at least three, and renames the flag column everywhere; the
    suffix-ignore rule is passed separately (IGNORED_SUFFIX)."""
    rng = np.random.default_rng([seed, 4])
    extras = sorted(n for n in table_names if n.startswith("x"))
    picks = [extras[i] for i in rng.permutation(len(extras))]
    table_csv = "Table Name,New Table Name,Delete\n" + "".join(
        f"{n},{n}_moved,\n" for n in picks[:2]
    )
    if len(picks) >= 3:
        table_csv += f"{picks[2]},,true\n"
    column_csv = (
        "Table Name,Column Name,New Column Name,New Column Type,Delete\n"
        "*,flag,is_flagged,,\n"
    )
    return table_csv, column_csv


def query_order(seed: int, names: list[str]) -> list[str]:
    rng = np.random.default_rng([seed, 5])
    return [names[i] for i in rng.permutation(len(names))]
