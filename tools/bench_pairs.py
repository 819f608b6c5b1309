"""Alternating-pair comparison of a git revision against the working tree
on the repository benchmark (``perfbench/run.py``).

The revision is unpacked with ``git archive`` into a temporary directory,
then each pair runs one benchmark process there and one in the working
tree, alternating which side runs first so slow drift of the host hits
both sides alike. Per end-to-end metric of ``BENCHMARK.json`` it prints
each side's median and quartiles, how many pairs the working tree won,
and whether the medians differ by more than the revision's quartile
distance (IQR), then one verdict:

- ``gain``: the working tree won at least 9 of every 10 pairs and its
  median is better by more than the revision's IQR;
- ``worse``: its median is worse than the revision's by more than the
  metric's relative ``bound`` in ``BENCHMARK.json``;
- ``inside bound`` otherwise.

A run whose result line says ``"correct": false`` stops the comparison
with an error: its numbers time wrong output.

Usage:
    python tools/bench_pairs.py --rev HEAD~1 --workload migrate_db --seed 1 --pairs 10
    python tools/bench_pairs.py --rev HEAD~1 --workload analytics_mix --pairs 5 --out pairs.json

Each process takes about a minute on a 4-CPU machine (``--seconds 24``).
"""

from __future__ import annotations

import argparse
import io
import json
import os
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def unpack(rev: str, dest: str) -> None:
    blob = subprocess.run(["git", "archive", rev], cwd=ROOT, check=True, capture_output=True).stdout
    with tarfile.open(fileobj=io.BytesIO(blob)) as tar:
        tar.extractall(dest, filter="data")


def run_once(root: str, args) -> dict:
    """One benchmark process in ``root``; returns its result line."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
    ]
    out = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"benchmark failed in {root} (exit {out.returncode})")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"benchmark in {root} verified wrong output (correct: false)")
    return result


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def summarize(pairs: list[dict], metrics: list[dict]) -> list[str]:
    lines = [f"{'metric':<12} {'base median [q1, q3]':<34} {'change median [q1, q3]':<34} wins   >IQR"]
    verdicts = []
    for m in metrics:
        name, sign = m["name"], 1 if m["better"] == "lower" else -1
        base = [p["base"]["metrics"][name]["value"] for p in pairs]
        new = [p["change"]["metrics"][name]["value"] for p in pairs]
        wins = sum(sign * (n - b) < 0 for b, n in zip(base, new))
        (b1, bm, b3), (n1, nm, n3) = quartiles(base), quartiles(new)
        beyond = abs(nm - bm) > (b3 - b1)
        cells = [f"{med:.4g} [{q1:.4g}, {q3:.4g}]" for q1, med, q3 in ((b1, bm, b3), (n1, nm, n3))]
        lines.append(
            f"{name:<12} {cells[0]:<34} {cells[1]:<34} {wins:>2}/{len(pairs):<3} {'yes' if beyond else 'no'}"
        )
        if wins >= 0.9 * len(pairs) and beyond and sign * (nm - bm) < 0:
            verdicts.append(f"{name}: gain")
        elif sign * (nm - bm) > m["bound"] * abs(bm):
            verdicts.append(f"{name}: worse (bound {m['bound']:g})")
        else:
            verdicts.append(f"{name}: inside bound")
    return lines + verdicts


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rev", required=True, help="git revision to compare against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=24)
    ap.add_argument("--work", help="directory to unpack the revision into (default: a new temp dir)")
    ap.add_argument("--out", help="write every pair's result lines to this JSON file")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]
    base_root = args.work or tempfile.mkdtemp(prefix="bench_pairs_")
    unpack(args.rev, base_root)
    pairs = []
    for i in range(args.pairs):
        order = [("base", base_root), ("change", ROOT)]
        if i % 2:
            order.reverse()
        pair = {side: run_once(root, args) for side, root in order}
        pair["first"] = order[0][0]
        pairs.append(pair)
        print(
            f"pair {i + 1}/{args.pairs} ({pair['first']} first): "
            + ", ".join(
                f"{m['name']} {pair['base']['metrics'][m['name']]['value']:.4g}"
                f" -> {pair['change']['metrics'][m['name']]['value']:.4g}"
                for m in metrics
            ),
            flush=True,
        )
    print(f"{args.workload} seed {args.seed}: {args.rev} (base) vs working tree (change), {args.pairs} pairs")
    print("\n".join(summarize(pairs, metrics)))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"rev": args.rev, "workload": args.workload, "seed": args.seed, "pairs": pairs}, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
