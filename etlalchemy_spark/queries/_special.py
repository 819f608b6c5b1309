"""Cross-engine-EXACT special functions for p-values, as shared SQL
expression STAGES (the `ln_int_sql` discipline extended — VERDICT r10
ask 4). libm's exp/log/lgamma are not correctly rounded and round
DIFFERENTLY across engines, so everything here is built from the
operations that ARE identically rounded everywhere (IEEE-754
+,-,*,/, floor, integer bit ops) with every iteration count FIXED,
so Spark and DuckDB evaluate the identical chain and the results
hash-match bit-for-bit.

Why stages, not one expression: these functions compose (the beta
prefactor is exp of a sum of three lgammas, each containing two
logs), and splicing compound sub-expressions into the consumers
multiplies text EXPONENTIALLY (a first cut hit DuckDB's parser
memory limit). `SqlStages` therefore lands every intermediate as a
named COLUMN; each stage expression references only plain columns, so
total text stays linear. DuckDB renders the stages as a chained-CTE
pipeline; Spark replays the identical expressions as chained
`selectExpr` projections (SPARK-36718 keeps Catalyst from collapsing
projections that would duplicate non-cheap expressions — and callers
put the one-row aggregate behind an exchange barrier anyway).

Functions:
- ln(x):      clamp to [1e-15, 1e15], reciprocal fold to v >= 1,
              exact power-of-2 range reduction via floor+bin(), then
              the atanh series to the z^35 term.
- exp(x):     clamp to [-745, 709], Cody-Waite ln2 split (k*ln2_hi
              exact), 17-term nested Taylor, 2^k from exact
              binary-decomposition factors (no libm pow; the
              subnormal tail squares 2^-512 at runtime).
- lgamma(a):  a >= 0.5 (all stats uses have half-integer-or-larger
              args — no reflection), public Lanczos g=7 n=9.
- betainc:    regularized I_x(a,b) via the DLMF 8.17.22 continued
              fraction evaluated BACKWARD at fixed depth (each level
              references the inner level once — linear size), with
              the I_x(a,b) = 1 - I_{1-x}(b,a) symmetry swap staged
              so x always sits in the convergent region.
- gammainc_q: regularized upper Q(s,x): lower series for x < s+1
              (Q = 1 - P), Legendre CF otherwise, both fixed-depth.

p-value front-ends (each appends stages ending in a `p_value` col):
- t_pvalue_stages(t, dof):        two-sided Student t via
                                  I_{v/(v+t^2)}(v/2, 1/2).
- f_pvalue_stages(f, d1, d2):     upper F tail via
                                  I_{d2/(d2+d1 F)}(d2/2, d1/2).
- chi2_pvalue_stages(x, dof):     upper chi-square tail Q(k/2, x/2).

Accuracy: validated in tests/test_special.py against an adaptive
double-precision reference to <=1e-12 relative over the domains the
stats queries hit. Outside the clamps values degrade gracefully but
stay DETERMINISTIC — the oracle contract.
"""

from __future__ import annotations

import copy
import math
import re
from collections import Counter


def _d(x: float) -> str:
    """A double literal both engines parse identically (E-notation —
    bare decimals parse as DECIMAL in Spark SQL; shortest round-trip
    repr parses to the exact same double under the correctly-rounded
    strtod both engines use)."""
    s = repr(float(x))
    if "e" in s or "E" in s:
        return s
    return s + "e0"


_LN2 = "6931471805599453e-16"
_LN2_HI = "6.93147180369123816490e-01"  # fdlibm split: k*ln2_hi exact
_LN2_LO = "1.90821492927058770002e-10"
_LOG2E = _d(1.4426950408889634)
_POW2_POS = [_d(float(2 ** (2**j))) for j in range(10)]
_POW2_NEG = [_d(float(2.0 ** -(2**j))) for j in range(10)]

# Lanczos g=7, n=9 — the public coefficient set (Numerical-Recipes /
# Boost / Wikipedia lineage), ~15 digits for Re(a) > 0.5.
_LANCZOS = [
    0.99999999999980993,
    676.5203681218851,
    -1259.1392167224028,
    771.32342877765313,
    -176.61502916214059,
    12.507343278686905,
    -0.13857109526572012,
    9.9843695780195716e-6,
    1.5056327351493116e-7,
]
_HALF_LN_2PI = _d(0.9189385332046727)  # ln(2*pi)/2

# compact(): a stage is inlined when referenced at most _MAX_REFS times
# and at most _MAX_LEN characters long
_MAX_REFS = 2
_MAX_LEN = 3000
# apply_spark(): one exchange barrier every _BARRIER_EVERY layers
_BARRIER_EVERY = 4
_TOKEN = re.compile(r"\w+")  # stage names are word tokens


class SqlStages:
    """Ordered (column, expression) stages; expressions reference
    input columns and earlier stage columns only. Render with
    `duckdb_sql` or replay onto a DataFrame with `apply_spark`."""

    def __init__(self, prefix: str = "_sp"):
        self.prefix = prefix
        self.stages: list[tuple[str, str]] = []
        self.pinned: set[str] = set()
        self._n = 0

    def add(self, expr: str, name: str | None = None, pin: bool = False) -> str:
        if name is None:
            name = f"{self.prefix}{self._n}"
            self._n += 1
        self.stages.append((name, expr))
        if pin:
            # never inline: chunk stages exist to BOUND parser/binder
            # recursion depth (DuckDB caps expression depth at 128)
            self.pinned.add(name)
        return name

    # ---------------------------------------------------------- primitives

    def ln(self, x_col: str) -> str:
        """Natural log of a positive double column (clamped)."""
        xg = self.add(
            f"LEAST(GREATEST(CAST({x_col} AS DOUBLE), 1e-15), 1e15)"
        )
        v = self.add(f"CASE WHEN {xg} >= 1e0 THEN {xg} ELSE 1e0 / {xg} END")
        k = self.add(f"length(bin(CAST({v} AS BIGINT))) - 1")
        m = self.add(f"{v} / CAST(CAST(1 AS BIGINT) << {k} AS DOUBLE)")
        z = self.add(f"({m} - 1e0) / ({m} + 1e0)")
        horner = "(1e0/35e0)"
        for dd in range(33, 0, -2):
            horner = f"((1e0/{dd}e0) + ({z} * {z}) * {horner})"
        core = self.add(
            f"CAST({k} AS DOUBLE) * {_LN2} + 2e0 * {z} * {horner}"
        )
        # sign * core references core ONCE (a CASE with core in both
        # branches would double its inlined text under compact())
        return self.add(
            f"(CASE WHEN {xg} >= 1e0 THEN 1e0 ELSE -1e0 END) * {core}"
        )

    def exp(self, x_col: str) -> str:
        """exp of a double column (clamped to the double range)."""
        xc = self.add(f"LEAST(GREATEST(CAST({x_col} AS DOUBLE), -745e0), 709e0)")
        k = self.add(f"CAST(floor({xc} * {_LOG2E} + 5e-1) AS BIGINT)")
        r = self.add(
            f"({xc} - CAST({k} AS DOUBLE) * {_LN2_HI})"
            f" - CAST({k} AS DOUBLE) * {_LN2_LO}"
        )
        taylor = f"(1e0 + {r} * {_d(1.0 / 17)})"
        for dd in range(16, 0, -1):
            taylor = f"(1e0 + ({r} * {_d(1.0 / dd)}) * {taylor})"
        ka = self.add(f"abs({k})")
        pos = " * ".join(
            f"(CASE WHEN (({ka} >> {j}) & 1) = 1 THEN {_POW2_POS[j]} ELSE 1e0 END)"
            for j in range(10)
        )
        neg = " * ".join(
            [
                f"(CASE WHEN (({ka} >> {j}) & 1) = 1 THEN {_POW2_NEG[j]} ELSE 1e0 END)"
                for j in range(10)
            ]
            + [
                f"(CASE WHEN (({ka} >> 10) & 1) = 1"
                f" THEN {_POW2_NEG[9]} * {_POW2_NEG[9]} ELSE 1e0 END)"
            ]
        )
        scale = self.add(f"CASE WHEN {k} >= 0 THEN {pos} ELSE {neg} END")
        return self.add(f"{taylor} * {scale}")

    def lgamma(self, a_col: str) -> str:
        """log Gamma for a column with values >= 0.5."""
        series = self.add(
            _d(_LANCZOS[0])
            + "".join(
                f" + {_d(c)} / (CAST({a_col} AS DOUBLE) + {_d(float(i - 1))})"
                for i, c in enumerate(_LANCZOS[1:], start=1)
            )
        )
        tt = self.add(f"CAST({a_col} AS DOUBLE) + 6.5e0")
        ln_t = self.ln(tt)
        ln_s = self.ln(series)
        return self.add(
            f"{_HALF_LN_2PI} + (CAST({a_col} AS DOUBLE) - 5e-1) * {ln_t}"
            f" - {tt} + {ln_s}"
        )

    # ------------------------------------------------------- incomplete beta

    def betainc(self, a_col: str, b_col: str, x_col: str, levels: int = 80,
                lgamma_b_literal: str | None = None) -> str:
        """Regularized I_x(a, b) with the symmetry swap staged in.
        The continued fraction (1/(1+d1/(1+d2/(...)))) is one
        backward-nested expression over plain columns — linear in
        `levels` (80 is converged to the lgamma-cancellation floor
        for dof up to 2e5 — more levels measurably change nothing).
        When b is a compile-time constant (the t-test's 1/2) pass
        `lgamma_b_literal` to skip one full dynamic lgamma chain:
        lgamma(aa)+lgamma(bb) == lgamma(a)+lgamma(b) by swap
        symmetry, so the prefactor can use the UNSWAPPED pair."""
        sw = self.add(
            f"CAST({x_col} AS DOUBLE) >= (CAST({a_col} AS DOUBLE) + 1e0)"
            f" / (CAST({a_col} AS DOUBLE) + CAST({b_col} AS DOUBLE) + 2e0)"
        )
        aa = self.add(f"CASE WHEN {sw} THEN CAST({b_col} AS DOUBLE)"
                      f" ELSE CAST({a_col} AS DOUBLE) END")
        bb = self.add(f"CASE WHEN {sw} THEN CAST({a_col} AS DOUBLE)"
                      f" ELSE CAST({b_col} AS DOUBLE) END")
        xx = self.add(f"CASE WHEN {sw} THEN 1e0 - CAST({x_col} AS DOUBLE)"
                      f" ELSE CAST({x_col} AS DOUBLE) END")
        cx = self.add(f"1e0 - {xx}")
        ln_x = self.ln(xx)
        ln_cx = self.ln(cx)
        if lgamma_b_literal is None:
            lg_a = self.lgamma(aa)
            lg_b = self.lgamma(bb)
        else:  # lg(aa)+lg(bb) == lg(a)+lg(b): use the unswapped pair
            lg_a = self.lgamma(a_col)
            lg_b = lgamma_b_literal
        ab = self.add(f"{aa} + {bb}")
        lg_ab = self.lgamma(ab)
        parg = self.add(
            f"{aa} * {ln_x} + {bb} * {ln_cx} + {lg_ab} - {lg_a} - {lg_b}"
        )
        pref = self.exp(parg)
        # backward nesting, landed as a stage column every 25 levels —
        # continued fractions compose through their tail, and the
        # chunking keeps parser recursion depth bounded (a fully
        # nested 200-level expression blows the bison stack in DuckDB)
        inner = "1e0"
        for i, lev in enumerate(range(levels, 0, -1)):
            if lev % 2 == 1:  # d_{2m+1}, m = (lev-1)/2
                m = (lev - 1) // 2
                num = (
                    f"(-(({aa} + {_d(float(m))}) * ({aa} + {bb} + {_d(float(m))})"
                    f" * {xx}) / (({aa} + {_d(float(2 * m))})"
                    f" * ({aa} + {_d(float(2 * m + 1))})))"
                )
            else:  # d_{2m}, m = lev/2
                m = lev // 2
                num = (
                    f"(({_d(float(m))} * ({bb} - {_d(float(m))}) * {xx})"
                    f" / (({aa} + {_d(float(2 * m - 1))})"
                    f" * ({aa} + {_d(float(2 * m))})))"
                )
            inner = f"(1e0 + {num} / {inner})"
            if (i + 1) % 25 == 0:
                inner = self.add(inner, pin=True)
        cf = self.add(f"1e0 / {inner}")
        # xx at (or below) the ln clamp means the true I is 0 to well
        # past double resolution — the clamped-log formula would leak
        # ~1e-5 at aa = 1/2, so guard it to an exact 0
        i_val = self.add(
            f"CASE WHEN {xx} <= 1e-15 THEN 0e0"
            f" ELSE LEAST(GREATEST({pref} * {cf} / {aa}, 0e0), 1e0) END"
        )
        # affine form references i_val once (a two-branch CASE would
        # double its inlined text under compact())
        return self.add(
            f"(CASE WHEN {sw} THEN 1e0 ELSE 0e0 END)"
            f" + (CASE WHEN {sw} THEN -1e0 ELSE 1e0 END) * {i_val}"
        )

    # ------------------------------------------------------ incomplete gamma

    def gammainc_q(self, s_col: str, x_col: str, terms: int = 128) -> str:
        """Regularized upper Q(s, x), s > 0, x >= 0. Both branches
        evaluate on every row (vectorized engines don't
        short-circuit CASE) but every operation is total: doubles
        divide to inf, never error, and the untaken branch's value is
        discarded."""
        sd = self.add(f"CAST({s_col} AS DOUBLE)")
        xd = self.add(f"CAST({x_col} AS DOUBLE)")
        ln_x = self.ln(xd)
        lg_s = self.lgamma(sd)
        parg = self.add(f"{sd} * {ln_x} - {xd} - {lg_s}")
        pref = self.exp(parg)
        ser = "1e0"
        for i, n in enumerate(range(terms, 0, -1)):
            ser = f"(1e0 + {xd} / ({sd} + {_d(float(n))}) * {ser})"
            if (i + 1) % 25 == 0:  # bound parser recursion depth
                ser = self.add(ser, pin=True)
        p_low = self.add(f"{pref} / {sd} * {ser}")
        cf = f"({xd} + {_d(float(2 * terms + 1))} - {sd})"
        for i, n in enumerate(range(terms, 0, -1)):
            num = f"({_d(float(n))} * ({_d(float(n))} - {sd}))"
            cf = f"({xd} + {_d(float(2 * n - 1))} - {sd} - {num} / {cf})"
            if (i + 1) % 25 == 0:
                cf = self.add(cf, pin=True)
        q_high = self.add(f"{pref} / {cf}")
        return self.add(
            f"CASE WHEN {xd} <= 1e-15 THEN 1e0"  # Q(s, 0) = 1 exactly
            f" WHEN {xd} < {sd} + 1e0"
            f" THEN LEAST(GREATEST(1e0 - {p_low}, 0e0), 1e0)"
            f" ELSE LEAST(GREATEST({q_high}, 0e0), 1e0) END"
        )

    # ----------------------------------------------------------- compaction

    def compact(self, keep: tuple[str, ...] = ("p_value",)) -> "SqlStages":
        """Inline narrow stages to cut stage count: a stage whose
        column is referenced at most `_MAX_REFS` times downstream and
        whose expression is at most `_MAX_LEN` long gets substituted
        textually, parenthesized, into its consumers and dropped.
        Bounded duplication (<= _MAX_REFS copies of a short
        expression) keeps total text linear while collapsing the
        ~90-stage raw chain to ~a dozen — each Spark projection and
        DuckDB CTE costs real analyzer/optimizer time, and that
        overhead, not execution, dominated the first cut (one-row
        input, 22 s of planning). `keep` and pinned columns are never
        inlined.

        One forward pass over reference counts: stage names are
        unique word tokens, so each expression is tokenized once and
        no text is rescanned. Inlining a stage moves its references
        into its users, so the counts of earlier stages grow or stay
        and those stages stay non-inlinable — except when a stage with
        no users is dropped: that lowers the counts of the stages it
        referenced, and the scan steps back to the earliest of them.
        The texts are built once at the end, by substitution in stage
        order. The result equals the fixpoint of "inline the first
        inlinable stage, then rescan from the start"."""
        stages = self.stages
        pos: dict[str, int] = {}
        refs: list[Counter] = []  # refs[j][c]: uses of earlier stage c in stage j
        users: list[set[int]] = [set() for _ in stages]
        for j, (col, expr) in enumerate(stages):
            refs.append(Counter(t for t in _TOKEN.findall(expr) if t in pos))
            for c in refs[j]:
                users[pos[c]].add(j)
            pos[col] = j
        size = [len(expr) for _, expr in stages]
        alive = [True] * len(stages)
        i = 0
        while i < len(stages):
            col = stages[i][0]
            n_refs = sum(refs[j][col] for j in users[i])
            if (not alive[i] or col in keep or col in self.pinned
                    or size[i] > _MAX_LEN or n_refs > _MAX_REFS):
                i += 1
                continue
            alive[i] = False
            for j in users[i]:
                k = refs[j].pop(col)
                size[j] += k * (size[i] + 2 - len(col))
                for c, m in refs[i].items():
                    refs[j][c] += k * m
                    users[pos[c]].add(j)
            for c in refs[i]:
                users[pos[c]].discard(i)
            if n_refs == 0 and refs[i]:
                i = min(pos[c] for c in refs[i])
            else:
                i += 1
        inlined: dict[str, str] = {}

        def expand(m: re.Match) -> str:
            t = m.group()
            return f"({inlined[t]})" if t in inlined else t

        out = SqlStages(self.prefix)
        for (col, expr), live in zip(stages, alive):
            expr = _TOKEN.sub(expand, expr)
            if live:
                out.stages.append((col, expr))
            else:
                inlined[col] = expr
        out.pinned = set(self.pinned)
        out._n = self._n
        return out

    def _layers(self) -> list[list[tuple[str, str]]]:
        """Group stages into dependency layers: a stage lands in the
        first layer after every stage column it references."""
        level: dict[str, int] = {}
        layers: list[list[tuple[str, str]]] = []
        for col, expr in self.stages:
            lv = max(
                (level[t] + 1 for t in _TOKEN.findall(expr) if t in level),
                default=0,
            )
            while len(layers) <= lv:
                layers.append([])
            layers[lv].append((col, expr))
            level[col] = lv
        return layers

    # ------------------------------------------------------------- renderers

    def duckdb_sql(self, base_sql: str, final_select: str) -> str:
        """Wrap `base_sql` (a full SELECT) in chained CTEs — one per
        dependency LAYER (independent stage columns share a CTE) —
        and finish with `final_select`."""
        parts = [f"WITH _sp_base AS (\n{base_sql}\n)"]
        prev = "_sp_base"
        for i, layer in enumerate(self._layers()):
            cur = f"_sps{i}"
            cols = ", ".join(f"{expr} AS {col}" for col, expr in layer)
            parts.append(f", {cur} AS (SELECT *, {cols} FROM {prev})")
            prev = cur
        return "".join(parts) + f"\n{final_select} FROM {prev}"

    def apply_spark(self, df):
        """Replay the stages as layered projections on a DataFrame —
        one selectExpr per dependency layer, with a repartition(1)
        exchange every `_BARRIER_EVERY` layers. The barriers split the
        chain into separate whole-stage-codegen units: Janino compile
        time is SUPERLINEAR in generated-code size, and one fused
        ~19KB projection cost ~15 s to compile where the split units
        compile in ~1.5 s total (measured; the shuffles move one
        aggregate row). Callers pass one-row aggregate plans, so the
        exchanges are free at any scale."""
        layers = self._layers()
        for i, layer in enumerate(layers):
            df = df.selectExpr(
                "*", *[f"{expr} AS {col}" for col, expr in layer]
            )
            if (i + 1) % _BARRIER_EVERY == 0 and i + 1 < len(layers):
                df = df.repartition(1)
        return df


# ---------------------------------------------------------------- front-ends
# Each appends its chain to a copy of `st` (the caller's object is left
# as it was) and returns the compacted chain with its p-value column.


def t_pvalue_stages(
    t_col: str, dof_col: str, st: SqlStages | None = None
) -> tuple[SqlStages, str]:
    """Two-sided Student-t p-value: p = I_{v/(v+t^2)}(v/2, 1/2)."""
    st = copy.deepcopy(st) if st is not None else SqlStages()
    a = st.add(f"CAST({dof_col} AS DOUBLE) / 2e0")
    b = st.add("5e-1")
    x = st.add(
        f"CAST({dof_col} AS DOUBLE)"
        f" / (CAST({dof_col} AS DOUBLE)"
        f" + CAST({t_col} AS DOUBLE) * CAST({t_col} AS DOUBLE))"
    )
    p = st.betainc(a, b, x, lgamma_b_literal=_d(math.lgamma(0.5)))
    st.add(f"LEAST(GREATEST({p}, 0e0), 1e0)", name="p_value")
    return st.compact(), "p_value"


def f_pvalue_stages(
    f_col: str, d1_col: str, d2_col: str, st: SqlStages | None = None
) -> tuple[SqlStages, str]:
    """Upper-tail F p-value: p = I_{d2/(d2+d1 F)}(d2/2, d1/2)."""
    st = copy.deepcopy(st) if st is not None else SqlStages()
    a = st.add(f"CAST({d2_col} AS DOUBLE) / 2e0")
    b = st.add(f"CAST({d1_col} AS DOUBLE) / 2e0")
    x = st.add(
        f"CAST({d2_col} AS DOUBLE)"
        f" / (CAST({d2_col} AS DOUBLE)"
        f" + CAST({d1_col} AS DOUBLE) * CAST({f_col} AS DOUBLE))"
    )
    p = st.betainc(a, b, x)
    st.add(f"LEAST(GREATEST({p}, 0e0), 1e0)", name="p_value")
    return st.compact(), "p_value"


def chi2_pvalue_stages(
    x2_col: str, dof_col: str, st: SqlStages | None = None
) -> tuple[SqlStages, str]:
    """Upper-tail chi-square p-value: p = Q(k/2, x/2)."""
    st = copy.deepcopy(st) if st is not None else SqlStages()
    s = st.add(f"CAST({dof_col} AS DOUBLE) / 2e0")
    x = st.add(f"CAST({x2_col} AS DOUBLE) / 2e0")
    p = st.gammainc_q(s, x)
    st.add(f"LEAST(GREATEST({p}, 0e0), 1e0)", name="p_value")
    return st.compact(), "p_value"
