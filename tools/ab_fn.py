"""Alternating same-session A/B of two query-building callables.

Used for one-off restructure A/Bs where both shapes must run inside one
Spark session so host drift hits both arms equally.

Usage: python tools/ab_fn.py <module_a:fn_a> <module_b:fn_b> [--reps N]
Each fn must have the (spark, sf_dir) query signature.
"""

from __future__ import annotations

import argparse
import importlib
import os
import statistics
import sys
import time

sys.path.insert(0, ".")

from etlalchemy_spark.session import get_spark


def load(spec: str):
    mod, fn = spec.rsplit(":", 1)
    return getattr(importlib.import_module(mod), fn)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()
    fa, fb = load(args.a), load(args.b)

    spark = get_spark("ab_fn")

    def run(fn) -> float:
        t0 = time.monotonic()
        fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
        return time.monotonic() - t0

    run(fa); run(fb)  # warmup
    ta, tb = [], []
    for i in range(args.reps):
        order = [("a", fa, ta), ("b", fb, tb)]
        if i % 2:
            order.reverse()
        for tag, fn, acc in order:
            t = run(fn)
            acc.append(t)
            print(f"{i} {tag} {t:.2f}", flush=True)
    print(f"a median {statistics.median(ta):.3f} {sorted(round(x,2) for x in ta)}")
    print(f"b median {statistics.median(tb):.3f} {sorted(round(x,2) for x in tb)}")


if __name__ == "__main__":
    main()
