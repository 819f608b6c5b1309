"""queries/_special.py — the staged cross-engine-exact special
functions behind the r11 p-values. Two properties matter and are
tested separately:

1. ACCURACY: the fixed-iteration chains agree with an adaptive
   double-precision reference (math.lgamma/log/exp + Numerical-
   Recipes-style adaptive Lentz) over the domains the stats queries
   hit.
2. EXACTNESS: Spark and DuckDB produce bit-identical doubles for the
   same inputs (the oracle contract). The heavyweight Spark leg runs
   in test_stats_pvalues via the gate; here DuckDB doubles are pinned
   against the pure-Python replay of the same IEEE chain where
   feasible, and primitive goldens guard the constants.
"""

import math

import duckdb
import pytest


def _ref_betacf(a, b, x):
    FPMIN = 1e-300
    qab, qap, qam = a + b, a + 1, a - 1
    c = 1.0
    d = 1 - qab * x / qap
    if abs(d) < FPMIN:
        d = FPMIN
    d = 1 / d
    h = d
    for m in range(1, 5000):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1 + aa * d
        c = 1 + aa / c
        if abs(d) < FPMIN:
            d = FPMIN
        if abs(c) < FPMIN:
            c = FPMIN
        d = 1 / d
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1 + aa * d
        c = 1 + aa / c
        if abs(d) < FPMIN:
            d = FPMIN
        if abs(c) < FPMIN:
            c = FPMIN
        d = 1 / d
        de = d * c
        h *= de
        if abs(de - 1) < 1e-16:
            break
    return h


def ref_betai(a, b, x):
    if x <= 0:
        return 0.0
    if x >= 1:
        return 1.0
    bt = math.exp(
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
        + a * math.log(x) + b * math.log(1 - x)
    )
    if x < (a + 1) / (a + b + 2):
        return bt * _ref_betacf(a, b, x) / a
    return 1 - bt * _ref_betacf(b, a, 1 - x) / b


def ref_gammq(s, x):
    if x <= 0:
        return 1.0
    if x < s + 1:
        ap, summ = s, 1.0 / s
        de = summ
        for _ in range(5000):
            ap += 1
            de *= x / ap
            summ += de
            if abs(de) < abs(summ) * 1e-17:
                break
        return 1 - summ * math.exp(-x + s * math.log(x) - math.lgamma(s))
    b, c, d = x + 1 - s, 1e300, 1 / (x + 1 - s)
    h = d
    for i in range(1, 5000):
        an = -i * (i - s)
        b += 2
        d = an * d + b
        if abs(d) < 1e-300:
            d = 1e-300
        c = b + an / c
        if abs(c) < 1e-300:
            c = 1e-300
        d = 1 / d
        de = d * c
        h *= de
        if abs(de - 1) < 1e-16:
            break
    return math.exp(-x + s * math.log(x) - math.lgamma(s)) * h


def test_ln_exp_lgamma_primitives():
    from etlalchemy_spark.queries._special import SqlStages

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE g AS SELECT UNNEST([1e-12, 1e-6, 0.001, 0.1, 0.5,"
        " 0.9, 1.0, 1.5, 3.7, 100.0, 12345.678, 1e10, 9.9e14]) AS x"
    )
    st = SqlStages()
    ln_c = st.ln("x")
    rows = con.execute(
        st.duckdb_sql("SELECT x FROM g", f"SELECT x, {ln_c} AS v")
    ).fetchall()
    for x, v in rows:
        assert abs(v - math.log(x)) <= 4e-16 * max(abs(math.log(x)), 1.0)

    con.execute(
        "CREATE TABLE e AS SELECT UNNEST([-300.0, -35.2, -1.5, 0.0,"
        " 1e-12, 0.5, 10.0, 100.0, 709.0]) AS x"
    )
    st = SqlStages()
    exp_c = st.exp("x")
    rows = con.execute(
        st.duckdb_sql("SELECT x FROM e", f"SELECT x, {exp_c} AS v")
    ).fetchall()
    for x, v in rows:
        assert abs(v - math.exp(x)) <= 4e-16 * math.exp(x)

    con.execute(
        "CREATE TABLE lg AS SELECT UNNEST([0.5, 1.0, 2.5, 7.5, 36.0,"
        " 100.5, 7425.8, 73770.02, 200000.0]) AS a"
    )
    st = SqlStages()
    lg_c = st.lgamma("a")
    rows = con.execute(
        st.duckdb_sql("SELECT a FROM lg", f"SELECT a, {lg_c} AS v")
    ).fetchall()
    for a, v in rows:
        ref = math.lgamma(a)
        assert abs(v - ref) <= 1e-12 * max(abs(ref), 1.0)


def test_t_pvalue_accuracy():
    from etlalchemy_spark.queries._special import t_pvalue_stages

    cases = [
        (t, dof)
        for t in (0.0, 0.0001, 0.2173, 0.5, 1.0, 1.7, 2.5, 5.0, 10.0, 50.0)
        for dof in (1.5, 4.0, 36.7, 1000.0, 14851.63, 147540.05, 200000.0)
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE tt(t DOUBLE, dof DOUBLE)")
    con.executemany("INSERT INTO tt VALUES (?,?)", cases)
    st, pcol = t_pvalue_stages("t", "dof")
    rows = con.execute(
        st.duckdb_sql("SELECT t, dof FROM tt", f"SELECT t, dof, {pcol}")
    ).fetchall()
    for t, dof, p in rows:
        ref = ref_betai(dof / 2, 0.5, dof / (dof + t * t)) if t != 0 else 1.0
        # lgamma-cancellation floor grows with dof (two ~1e6-magnitude
        # logs subtract); below dof ~1e3 the chain is ~1e-12
        tol = 1e-11 if dof <= 1000 else 2e-8
        assert abs(p - ref) <= tol * max(ref, 1e-300), (t, dof, p, ref)
        assert 0.0 <= p <= 1.0


def test_f_and_chi2_pvalue_accuracy():
    from etlalchemy_spark.queries._special import (
        chi2_pvalue_stages,
        f_pvalue_stages,
    )

    con = duckdb.connect()
    cases = [
        (f, float(d1), float(d2))
        for f in (0.01, 0.78, 1.0, 2.5, 10.0, 50.0)
        for d1 in (2, 4, 10)
        for d2 in (10, 14995, 149995)
    ]
    con.execute("CREATE TABLE ff(f DOUBLE, d1 DOUBLE, d2 DOUBLE)")
    con.executemany("INSERT INTO ff VALUES (?,?,?)", cases)
    st, pcol = f_pvalue_stages("f", "d1", "d2")
    rows = con.execute(
        st.duckdb_sql("SELECT f, d1, d2 FROM ff", f"SELECT f, d1, d2, {pcol}")
    ).fetchall()
    for f, d1, d2, p in rows:
        ref = ref_betai(d2 / 2, d1 / 2, d2 / (d2 + d1 * f))
        tol = 1e-11 if d2 <= 1000 else 2e-8
        assert abs(p - ref) <= tol * max(ref, 1e-280), (f, d1, d2, p, ref)

    cases2 = [
        (float(k), x)
        for k in (1, 2, 5, 36, 72, 100, 200)
        for x in (0.0, 0.01, 0.5, 3.0, 34.42, 73.18, 150.0, 500.0)
    ]
    con.execute("CREATE TABLE cc(dof DOUBLE, x DOUBLE)")
    con.executemany("INSERT INTO cc VALUES (?,?)", cases2)
    st2, pcol2 = chi2_pvalue_stages("x", "dof")
    rows = con.execute(
        st2.duckdb_sql("SELECT dof, x FROM cc", f"SELECT dof, x, {pcol2}")
    ).fetchall()
    for dof, x, p in rows:
        ref = ref_gammq(dof / 2, x / 2)
        assert abs(p - ref) <= 1e-11 * max(ref, 1e-280), (dof, x, p, ref)


def test_compact_preserves_values():
    """compact() is a pure text transformation — the inlined pipeline
    must produce the identical doubles (same ops, same order)."""
    import struct

    from etlalchemy_spark.queries._special import SqlStages

    def build():
        st = SqlStages()
        a = st.add("CAST(dof AS DOUBLE) / 2e0")
        b = st.add("5e-1")
        x = st.add("CAST(dof AS DOUBLE) / (CAST(dof AS DOUBLE) + t*t)")
        p = st.betainc(a, b, x)
        st.add(f"LEAST(GREATEST({p}, 0e0), 1e0)", name="p_value")
        return st

    con = duckdb.connect()
    con.execute("CREATE TABLE tt(t DOUBLE, dof DOUBLE)")
    con.executemany(
        "INSERT INTO tt VALUES (?,?)", [(0.31, 14851.6), (2.5, 36.7)]
    )
    raw = build()
    compacted = build().compact()
    assert len(compacted.stages) < len(raw.stages)
    for st in (raw, compacted):
        st.vals = con.execute(
            st.duckdb_sql("SELECT t, dof FROM tt", "SELECT t, dof, p_value")
        ).fetchall()
    for r1, r2 in zip(raw.vals, compacted.vals):
        assert struct.pack("<d", r1[2]) == struct.pack("<d", r2[2])


def test_pinned_chunks_survive_compaction():
    """The chunk stages bound DuckDB's 128-deep expression binder —
    compact() must never inline them (regression: the chi2 series
    chunks got re-nested and broke binding)."""
    from etlalchemy_spark.queries._special import chi2_pvalue_stages

    st, _ = chi2_pvalue_stages("x", "dof")
    names = {c for c, _ in st.stages}
    assert st.pinned & names, "pinned chunk stages were compacted away"


def _fixpoint_compact(stages, pinned, keep, max_refs=2, max_len=3000):
    """Reference for SqlStages.compact(): the original fixpoint — inline
    the first stage referenced at most `max_refs` times downstream and
    at most `max_len` long, then rescan from the start. Quadratic in
    the stage count; keep the inputs small."""
    import re

    stages = list(stages)
    changed = True
    while changed:
        changed = False
        for i, (col, expr) in enumerate(stages):
            if col in keep or col in pinned or len(expr) > max_len:
                continue
            pat = re.compile(rf"\b{re.escape(col)}\b")
            uses = [
                j for j in range(i + 1, len(stages))
                if pat.search(stages[j][1])
            ]
            n_refs = sum(len(pat.findall(stages[j][1])) for j in uses)
            if n_refs <= max_refs:
                rep = f"({expr})"
                for j in uses:
                    stages[j] = (stages[j][0], pat.sub(rep, stages[j][1]))
                del stages[i]
                changed = True
                break
    return stages


def _anova_style_chain(stat):
    from etlalchemy_spark.queries._special import SqlStages, f_pvalue_stages

    st = SqlStages()
    st.add("CAST(k_groups - 1 AS DOUBLE)", name="_d1")
    st.add("CAST(n_total - k_groups AS DOUBLE)", name="_d2")
    return f_pvalue_stages(stat, "_d1", "_d2", st=st)


def test_compact_matches_fixpoint_on_frontend_chains(monkeypatch):
    """Every compact() call the query builders make — the three p-value
    front-ends, their chained `st=` forms over pinned statistic columns
    (Ljung-Box, Breusch-Pagan, ANOVA, Brown-Forsythe) and the other
    staged oracles with `keep` tuples — gives the reference fixpoint's
    stage list byte for byte."""
    from etlalchemy_spark.queries import aggregates, events
    from etlalchemy_spark.queries._special import (
        SqlStages,
        chi2_pvalue_stages,
        t_pvalue_stages,
    )

    calls = []
    compact = SqlStages.compact

    def recording(self, keep=("p_value",)):
        out = compact(self, keep)
        calls.append((list(self.stages), set(self.pinned), keep, out))
        return out

    monkeypatch.setattr(SqlStages, "compact", recording)
    t_pvalue_stages("t_stat", "welch_dof")
    chi2_pvalue_stages("chi2", "dof")
    _anova_style_chain("f_stat")
    _anova_style_chain("w_stat")
    events._ljung_box_stages()
    aggregates._bp_stages()
    events._pacf_stages(5)
    events._hurst_sql()
    events._hwm_sql()
    aggregates._bayes_ab_sql()
    aggregates._mk_sql()
    assert len(calls) >= 10
    assert any({"q_stat", "dof"} <= pinned for _, pinned, _, _ in calls)
    for stages, pinned, keep, out in calls:
        assert out.stages == _fixpoint_compact(stages, pinned, keep), keep
        assert out.pinned == pinned


def test_compact_matches_fixpoint_on_random_chains():
    """Seeded random stage lists: dead stages (no consumer), pinned
    stages, `keep` columns, expressions over the length limit, and
    inlines that push a consumer over it."""
    import random

    from etlalchemy_spark.queries._special import SqlStages

    rng = random.Random(20261018)
    for _ in range(300):
        st = SqlStages(prefix=rng.choice(["_sp", "_x"]))
        for i in range(rng.randint(1, 25)):
            names = [c for c, _ in st.stages]
            refs = [rng.choice(names) for _ in range(rng.choice([0, 1, 1, 2, 2, 3]))
                    if names]
            pad = "x" * rng.choice([0, 0, 40, 700, 1600, 3001])
            name = rng.choice([None] * 6 + ["p_value", f"k{i}"])
            if name in names:  # stage names are unique
                name = None
            st.add(" + ".join(refs + [f"'{pad}'"]), name=name,
                   pin=rng.random() < 0.1)
        names = [c for c, _ in st.stages]
        keep = (tuple(rng.sample(names, min(2, len(names))))
                if rng.random() < 0.3 else ("p_value",))
        got = st.compact(keep)
        assert got.stages == _fixpoint_compact(st.stages, st.pinned, keep)


def test_frontends_copy_the_callers_chain_and_keep_its_counter():
    """A front-end leaves the caller's `st` as it was, and its result
    carries the auto-name counter: a stage appended to a returned chain
    gets a name no surviving stage has."""
    from etlalchemy_spark.queries._special import SqlStages, chi2_pvalue_stages

    st = SqlStages()
    st.add("CAST(n AS DOUBLE)", name="q_stat")
    before = (list(st.stages), set(st.pinned), st._n)
    chained, _ = chi2_pvalue_stages("q_stat", "dof", st=st)
    assert (st.stages, st.pinned, st._n) == before
    assert len(chained.stages) > len(st.stages)

    out, _ = chi2_pvalue_stages("x", "dof")
    names = {c for c, _ in out.stages}
    assert out.add("1e0") not in names


def test_double_literals_roundtrip():
    from etlalchemy_spark.queries._special import _d

    for v in (0.5, 1 / 3, 2.0**128, 2.0**-512, 1.4426950408889634,
              math.lgamma(0.5)):
        s = _d(v)
        assert float(s) == v
        assert "e" in s or "E" in s  # never a bare decimal (Spark DECIMAL trap)


def test_durbin_levinson_matches_yule_walker():
    """The unrolled Durbin-Levinson stages (queries/events._pacf_stages)
    must agree with the independent Yule-Walker solve: pacf_k is the
    last coefficient of Toeplitz(r)^-1 r — checked on autocorrelations
    of a synthetic AR(2) process, where PACF also must cut off
    (|pacf_k| small for k > 2)."""
    import numpy as np

    from etlalchemy_spark.queries.events import _pacf_stages

    rng = np.random.default_rng(42)
    n = 4000
    x = np.zeros(n)
    for i in range(2, n):
        x[i] = 0.6 * x[i - 1] - 0.3 * x[i - 2] + rng.normal()
    xc = x - x.mean()
    g = [float((xc[: n - k] * xc[k:]).sum()) for k in range(6)]
    r = [g[k] / g[0] for k in range(6)]

    # evaluate the shared SQL stages in DuckDB on the literal r values
    import duckdb

    st, outs = _pacf_stages(5)
    base = "SELECT " + ", ".join(f"{r[k]!r}::DOUBLE AS r{k}" for k in range(1, 6))
    got = duckdb.sql(
        st.duckdb_sql(base, "SELECT " + ", ".join(outs))
    ).fetchone()

    for k in range(1, 6):
        top = np.array(r[:k])
        T = np.array([[r[abs(i - j)] if i != j else 1.0 for j in range(k)]
                      for i in range(k)])
        expect = np.linalg.solve(T, np.array(r[1 : k + 1]))[-1]
        assert abs(got[k - 1] - expect) < 1e-9, (k, got[k - 1], expect)
    assert abs(got[0]) > 0.3 and abs(got[1]) > 0.1  # AR terms visible
    assert abs(got[3]) < 0.1 and abs(got[4]) < 0.1  # cutoff beyond order


def test_breusch_pagan_matches_direct_computation():
    """The generated multinomial expansion (queries/aggregates._bp_stages)
    must agree with a direct residual computation: OLS fit, e^2-on-x
    auxiliary R^2, LM = n R^2 — on heteroskedastic synthetic data."""
    import duckdb
    import numpy as np

    from etlalchemy_spark.queries.aggregates import _bp_stages

    rng = np.random.default_rng(9)
    n = 3000
    x = rng.integers(1, 50, n).astype(float)
    y = np.floor(2 + 0.1 * x + rng.normal(scale=0.05 * x) * 10).astype(float)

    # direct: fit, residuals, aux regression R^2
    b = ((x * y).sum() - x.sum() * y.sum() / n) / ((x * x).sum() - x.sum() ** 2 / n)
    a = (y.sum() - b * x.sum()) / n
    u = (y - a - b * x) ** 2
    sux = (u * x).sum() - u.sum() * x.sum() / n
    suu = (u * u).sum() - u.sum() ** 2 / n
    sxx = (x * x).sum() - x.sum() ** 2 / n
    expect = n * sux * sux / (suu * sxx)

    cols = ", ".join(
        f"CAST({int((x**p * y**q).sum())} AS BIGINT) AS s_{p}{q}"
        for p in range(5) for q in range(5 - p)
    )
    got = duckdb.sql(
        _bp_stages().duckdb_sql(f"SELECT {cols}", "SELECT bp_stat, p_value")
    ).fetchone()
    assert abs(got[0] - expect) / expect < 1e-9, (got[0], expect)
    assert 0.0 <= got[1] <= 1.0 and got[1] < 0.05  # heteroskedastic by design
