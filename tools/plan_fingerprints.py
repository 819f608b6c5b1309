"""Pin (or refresh) the physical-plan fingerprints of the bench
queries — the plan-shape regression tripwire.

Usage:
    python tools/plan_fingerprints.py            # report drift
    python tools/plan_fingerprints.py --update   # rewrite the pin file

The pin file (tests/plan_fingerprints.json) stores the normalized plan
TREE per bench query, not just the hash, so a tripwire failure shows a
readable structural diff. Refresh it whenever a bench query's plan is
changed ON PURPOSE — the r3 sketch rewrite would have surfaced as
"plan changed + timing regressed" in one diff.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etlalchemy_spark.plans.inspect import (
    fixed_default_parallelism,
    pinned_plan_fingerprint,
    pinned_plan_text,
)
from etlalchemy_spark.registry import all_queries
from etlalchemy_spark.session import get_spark

PIN_FILE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests",
    "plan_fingerprints.json",
)
# plans are pinned at one fixed SF: stats-driven choices (broadcast
# thresholds, AQE) may legitimately differ across scale factors
PIN_SF_DIR = "/root/testdata/sf0.01"
# plans are built under this default parallelism whatever the host's
# core count (recorded in the pin file as "_pinned_under"): a plan's
# shape can depend on it
PIN_PARALLELISM = 32


def current() -> dict[str, dict[str, str]]:
    # SAME session config as tests/conftest.py: a plan's shape can
    # legitimately depend on spark.sql.shuffle.partitions (aggregate
    # split/exchange placement), so pinning under a different count
    # than the tripwire runs under manufactures phantom diffs
    spark = get_spark("plan_fingerprints", shuffle_partitions=4)
    out: dict[str, dict[str, str]] = {}
    with fixed_default_parallelism(spark, PIN_PARALLELISM):
        for name, q in sorted(all_queries().items()):
            if "bench" not in q.tags:
                continue
            df = q.fn(spark, PIN_SF_DIR)
            out[name] = {
                "fingerprint": pinned_plan_fingerprint(name, df, spark, PIN_SF_DIR),
                "tree": pinned_plan_text(name, df, spark, PIN_SF_DIR),
            }
    return out


def main() -> None:
    now = current()
    if "--update" in sys.argv:
        with open(PIN_FILE, "w") as fh:
            pinned_under = {"default_parallelism": PIN_PARALLELISM}
            json.dump({**now, "_pinned_under": pinned_under}, fh, indent=1, sort_keys=True)
        print(f"pinned {len(now)} bench-query plans -> {PIN_FILE}")
        return
    with open(PIN_FILE) as fh:
        pinned = json.load(fh)
    pinned.pop("_pinned_under")
    drift = sorted(
        set(now) ^ set(pinned)
        | {n for n in set(now) & set(pinned) if now[n]["fingerprint"] != pinned[n]["fingerprint"]}
    )
    for n in drift:
        print(f"DRIFT {n}")
    print(f"{len(drift)} drifted / {len(now)} bench queries")
    sys.exit(1 if drift else 0)


if __name__ == "__main__":
    main()
