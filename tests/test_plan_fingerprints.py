"""Plan-shape regression tripwire (r3 VERDICT ask): every bench
query's physical-plan tree is pinned in plan_fingerprints.json; an
unintentional plan change fails here with a structural diff. After an
INTENTIONAL plan change, refresh the pins:

    python tools/plan_fingerprints.py --update

Plans are built under the default parallelism the pins were taken at
(recorded in the pin file), so the result does not depend on the
host's core count.
"""

import difflib
import json
import os

import pytest

from etlalchemy_spark.plans.inspect import (
    fixed_default_parallelism,
    pinned_plan_fingerprint,
    pinned_plan_text,
)
from etlalchemy_spark.registry import all_queries

PIN_FILE = os.path.join(os.path.dirname(__file__), "plan_fingerprints.json")
PIN_SF_DIR = "/root/testdata/sf0.01"

with open(PIN_FILE) as _fh:
    PINNED = json.load(_fh)
PIN_PARALLELISM = PINNED.pop("_pinned_under")["default_parallelism"]

BENCH = sorted(n for n, q in all_queries().items() if "bench" in q.tags)


def test_every_bench_query_is_pinned():
    missing = [n for n in BENCH if n not in PINNED]
    stale = [n for n in PINNED if n not in BENCH]
    assert not missing and not stale, (
        f"pin file out of date (missing={missing}, stale={stale}) — run "
        "python tools/plan_fingerprints.py --update"
    )


@pytest.mark.parametrize("name", BENCH)
def test_bench_plan_shape_unchanged(spark, name):
    if name not in PINNED:
        pytest.skip("unpinned (covered by test_every_bench_query_is_pinned)")
    with fixed_default_parallelism(spark, PIN_PARALLELISM):
        df = all_queries()[name].fn(spark, PIN_SF_DIR)
        got_tree = pinned_plan_text(name, df, spark, PIN_SF_DIR)
        got = pinned_plan_fingerprint(name, df, spark, PIN_SF_DIR)
    if got == PINNED[name]["fingerprint"]:
        return
    diff = "\n".join(
        difflib.unified_diff(
            PINNED[name]["tree"].splitlines(),
            got_tree.splitlines(),
            fromfile="pinned",
            tofile="current",
            lineterm="",
        )
    )
    raise AssertionError(
        f"\n{name}: physical plan changed shape. If intentional, re-pin "
        "with python tools/plan_fingerprints.py --update. Structural "
        f"diff:\n{diff}"
    )
