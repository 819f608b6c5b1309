"""Self-test of the benchmark harness at tiny size.

    python3 -m pytest perfbench/test_selftest.py -q

Runs every workload (those of BENCHMARK.json and ``migrate_lake``) on
its tiny inputs (an sf0.001 lake, a 3-table source database, a 2-query
mix) and checks the output contract: every end-to-end metric is emitted with its unit, every
output verifies, and a traced run emits every per-layer metric.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


def _result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    return out


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_run_emits_every_end_to_end_metric(workload):
    out = _result(_run(workload, 0))
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())
    assert out["metrics"]["ok_ops_frac"]["value"] == 1.0  # no failed operation


def test_tiny_traced_run_emits_every_per_layer_metric():
    out = _result(_run("migrate_db", 1))
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["migrate.tables"] == 3  # the whole 3-table catalog (one renamed by rule)
    assert m["sources.bulkload.load_s"] > 0 and m["operators.standardize.observe_s"] > 0
    assert m["spark.jobs"] > 0 and m["spark.source_reads_per_row"] >= 1


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("migrate_db", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert not p.stdout.strip()


def test_self_times_add_up_to_the_root_span():
    from spans import Tracer

    tr = Tracer()
    root = tr.begin("op")
    a = tr.begin("a")
    tr.begin("a.child")
    tr.end(2)
    tr.end(a)
    tr.begin("b")
    tr.end(3)
    tr.end(root)
    selfs = tr.self_times()
    assert abs(sum(selfs.values()) - (tr.spans[0]["end"] - tr.spans[0]["start"])) < 1e-9
    assert all(v >= 0 for v in selfs.values())


def test_digest_ignores_row_order_and_standardized_types():
    from workloads import digest

    src = pa.table({"k": pa.array([3, 1, 2], pa.int64()), "f": pa.array([0, 1, 1], pa.int32())})
    dst = pa.table({"f": pa.array([True, False, True]), "k": pa.array([2, 3, 1], pa.int8())})
    assert digest(src) == digest(dst)
    changed = pa.table({"f": pa.array([True, False, True]), "k": pa.array([2, 3, 4], pa.int8())})
    assert digest(src) != digest(changed)
