#!/usr/bin/env python3
"""Benchmark driver: one workload, one process, closed loop.

    python3 perfbench/run.py --workload migrate_db --seed 1 --seconds 24 --trace 0

Generates the workload's inputs from ``--seed`` (cached per seed), sets
up (session start + input priming, repeated SETUP_CYCLES times; the
median is ``setup_s``), runs the workload's untimed warm-up operations
(the first ones run several times slower while the JVM compiles), then
runs operations back to back, one in flight, and verifies every output
outside the timed region. The number of operations is ``--seconds``
divided by the workload's nominal operation time (at least MIN_OPS),
fixed per workload rather than decided by a clock, so every run takes
its samples at the same positions of the JIT warm-up curve.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). Scratch files live under
``.bench_work/`` at the repository root; details of each run (op times,
set-up cycles, generation time, spans of a traced run) are written to
``.bench_work/results/``. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
SETUP_CYCLES = 5
DRIVER_HEAP = "2g"
MIN_OPS = 3


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is the harness self-test size")
    return ap.parse_args(argv)


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    """Keep every Spark/Derby/JVM scratch file under the work dir, and
    fix the driver heap at DRIVER_HEAP (initial = maximum size): a heap
    that grows on demand grows by a different amount in every run,
    following GC timing, and peak RSS with it."""
    java_opts = (
        f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={work}/tmp -Dderby.system.home={work} -Duser.timezone=UTC"
    )
    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.driver.extraJavaOptions": java_opts,
        "spark.sql.warehouse.dir": f"{work}/spark-warehouse",
        "spark.local.dir": f"{work}/tmp",
    }
    if trace:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
        })
    return conf


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus the peak RSS of this process."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and the JVM this process started, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort: never leave it running
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "etlalchemy_spark")):
        log(f"engine package etlalchemy_spark not found under {ROOT}")
        return 2
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    cpus = len(os.sched_getaffinity(0))
    for d in ("tmp", "results", "dest", "inputs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "tmp"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    os.chdir(WORK)  # derby.log, metastore_db and other cwd droppings land here

    wl = WORKLOADS[args.workload](args.seed, args.size, WORK)
    t = time.monotonic()
    wl.generate()
    gen_s = time.monotonic() - t

    from etlalchemy_spark.session import get_spark

    conf = spark_conf(WORK, bool(args.trace))
    session_s: list[float] = []

    def start():
        t0 = time.monotonic()
        s = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
        session_s.append(time.monotonic() - t0)
        return s

    # set-up cycle 0 runs from process start (minus input generation);
    # later cycles restart the session inside the same process
    spark = start()
    wl.prime(spark)
    setup = [time.monotonic() - T_START - gen_s]
    t = time.monotonic()
    wl.load(spark)
    gen_s += time.monotonic() - t
    for _ in range(SETUP_CYCLES - 1):
        t = time.monotonic()
        spark.stop()
        spark = start()
        wl.prime(spark)
        setup.append(time.monotonic() - t)
    log(f"gen_s={gen_s:.2f} setup cycles={[round(x, 3) for x in setup]}")

    issues: list[str] = []
    warm_s: list[float] = []
    for _ in range(wl.WARMUP_OPS):
        t = time.monotonic()
        try:
            warm = wl.op(spark)
            warm_s.append(time.monotonic() - t)
            issues += [f"warm-up: {m}" for m in wl.verify(warm)[1]]
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            warm_s.append(time.monotonic() - t)
            log(traceback.format_exc())
            issues.append(f"warm-up raised {e!r}"[:500])
    log(f"warm-up ops {[round(x, 2) for x in warm_s]}")

    tracer = None
    if args.trace:
        from spans import Tracer, install_layer_spans

        tracer = Tracer()
        install_layer_spans(tracer)
        wl.tracer = tracer

    ops: list[dict] = []
    n_ops = max(MIN_OPS, round(args.seconds / wl.NOMINAL_OP_S))
    if args.trace:
        n_ops += n_ops % 2  # as many traced as untraced operations
    for i in range(n_ops):
        # a traced run interleaves traced and untraced operations
        # (traced, untraced, untraced, traced, ...: neither side gets
        # all the earlier, colder slots); the difference of their
        # medians is the tracing overhead
        traced = tracer is not None and i % 4 in (0, 3)
        if tracer is not None:
            tracer.enabled = traced
            tracer.op_id = i
            spark.sparkContext.setJobGroup(f"op{i}", f"perfbench op {i}")
        root = tracer.begin("op") if traced else None
        t = time.perf_counter()
        err = None
        try:
            out = wl.op(spark)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            err = e
        dt = time.perf_counter() - t
        if root is not None:
            tracer.end(root)
        rec = {"i": i, "s": dt, "traced": traced, "rows": 0, "issues": []}
        if err is not None:
            log("".join(traceback.format_exception(err)))
            rec["issues"] = [f"raised {err!r}"[:500]]
        else:
            rec["rows"], rec["issues"] = wl.verify(out)
            rec.update(wl.op_stats(out))
        ops.append(rec)
        log(f"op {i}: {dt:.3f}s rows={rec['rows']} traced={traced} issues={rec['issues'][:2]}")
    if tracer is not None:
        tracer.uninstall()
        tracer.enabled = False

    failed = sum(1 for o in ops if o["issues"])
    issues += [m for o in ops for m in o["issues"]]
    job_s = statistics.median(o["s"] for o in ops)
    rows = statistics.median(o["rows"] for o in ops)
    summary = {
        "setup_s": (statistics.median(setup), "s"),
        "job_s": (job_s, "s"),
        "rows_per_s": (rows / job_s, "rows/s"),
        "peak_rss_mb": (peak_rss_mb(spark), "MB"),
        "ok_ops_frac": ((len(ops) - failed) / len(ops), "ratio"),
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "size": args.size, "cpus": cpus,
        "gen_s": gen_s, "warmup_s": warm_s, "setup_cycles": setup, "session_s": session_s,
        "ops": ops, "issues": issues,
        "end_to_end": {k: v[0] for k, v in summary.items()},
    }
    if tracer is not None:
        from layers import per_layer_metrics

        metrics = per_layer_metrics(spark, tracer, ops, session_s, setup, cpus)
        spans = os.path.join(WORK, "results", f"spans_{args.workload}_seed{args.seed}.json")
        tracer.write(spans, {"workload": args.workload, "seed": args.seed, "ops": ops})
        detail["spans_file"] = spans
        log(f"spans written to {spans}")
    else:
        metrics = summary
    detail["metrics"] = {k: v[0] for k, v in metrics.items()}
    with open(os.path.join(WORK, "results", f"{args.workload}_seed{args.seed}_trace{args.trace}.json"), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    stop_spark(spark)
    for m in issues[:20]:
        log(f"check failed: {m}")
    print(json.dumps({
        "correct": not issues,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
