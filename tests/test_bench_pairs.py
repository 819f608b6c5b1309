"""tools/bench_pairs.py: its verdict per metric and its refusal to
summarise a run that verified wrong output. No Spark, no benchmark run."""

import json
import os
import subprocess
import sys
import types

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import bench_pairs  # noqa: E402

_METRICS = [
    {"name": "job_s", "better": "lower", "bound": 0.25},
    {"name": "rows_per_s", "better": "higher", "bound": 0.25},
]


def _pairs(base, change):
    side = lambda vals: {"metrics": {k: {"value": v} for k, v in vals.items()}}
    return [{"base": side(b), "change": side(c)} for b, c in zip(base, change)]


def _verdicts(pairs):
    return bench_pairs.summarize(pairs, _METRICS)[-len(_METRICS):]


def test_gain_needs_nine_of_ten_wins_beyond_the_base_iqr():
    base = [{"job_s": 0.26 + 0.002 * i, "rows_per_s": 100} for i in range(10)]
    change = [{"job_s": 0.21 + 0.002 * i, "rows_per_s": 100} for i in range(10)]
    assert _verdicts(_pairs(base, change)) == ["job_s: gain", "rows_per_s: inside bound"]
    # 8 of 10 wins is not a gain, whatever the medians say
    change[0]["job_s"] = change[1]["job_s"] = 0.5
    assert _verdicts(_pairs(base, change))[0] == "job_s: inside bound"


def test_worse_beyond_the_bound_in_either_direction():
    base = [{"job_s": 0.20, "rows_per_s": 100} for _ in range(4)]
    change = [{"job_s": 0.26, "rows_per_s": 70} for _ in range(4)]
    assert _verdicts(_pairs(base, change)) == [
        "job_s: worse (bound 0.25)",
        "rows_per_s: worse (bound 0.25)",
    ]
    change = [{"job_s": 0.24, "rows_per_s": 80} for _ in range(4)]
    assert _verdicts(_pairs(base, change)) == ["job_s: inside bound", "rows_per_s: inside bound"]


def test_a_run_with_wrong_output_stops_the_comparison(monkeypatch):
    line = json.dumps({"correct": False, "attempted": 3, "failed": 0, "metrics": {}})
    done = types.SimpleNamespace(returncode=0, stdout="log\n" + line + "\n", stderr="")
    monkeypatch.setattr(subprocess, "run", lambda *a, **kw: done)
    args = types.SimpleNamespace(workload="migrate_db", seed=1, seconds=24)
    with pytest.raises(SystemExit, match="correct: false"):
        bench_pairs.run_once(".", args)
