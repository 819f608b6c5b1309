"""Per-layer metrics of a traced run.

Every ``*_s`` layer metric is a span SELF time (duration minus the time
of nested spans), averaged per traced operation, so within one
operation the layer times plus ``trace.unattributed_s`` add up to the
operation's wall time. Counts are per operation too. Spark metrics are
per operation over all timed operations (traced and untraced alike:
the wrappers do not change what Spark executes).
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import spark_metrics_by_group
from workloads import ANALYTICS_MIX

# span name -> layer metric holding its self time
SPAN_METRICS = {
    "sources.reflection.reflect": "sources.reflection.reflect_s",
    "sources.jdbc.probe": "sources.jdbc.probe_s",
    "sources.files.read": "sources.files.read_s",
    "sources.files.write": "sources.files.write_s",
    "sources.files.validate": "sources.files.validate_s",
    "sources.files.csv_stage": "sources.files.csv_stage_s",
    "sources.bulkload.load": "sources.bulkload.load_s",
    "operators.rules.transform": "operators.rules.transform_s",
    "operators.standardize.observe": "operators.standardize.observe_s",
    "migrate.run": "migrate.self_s",
    "migrate.manifest": "migrate.manifest_s",
    "catalog.load_table": "catalog.load_table_s",
    "op": "trace.unattributed_s",
}

SPARK_COUNTS = ["jobs", "stages", "tasks", "failed_tasks", "input_records"]
SPARK_BYTES = ["shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "output_bytes"]


def metric_units() -> dict[str, str]:
    """Every per-layer metric name -> unit (BENCHMARK.json's per_layer)."""
    units = {"session.start_s": "s", "session.cold_setup_s": "s"}
    units.update({m: "s" for m in SPAN_METRICS.values()})
    units.update({
        "sources.reflection.tables": "count",
        "sources.bulkload.files_per_table": "count",
        "sources.bulkload.stage_bytes_per_row": "B/row",
        "operators.standardize.casts": "count",
        "operators.standardize.drops": "count",
        "migrate.audit_s": "s",
        "migrate.manifest_writes": "count",
        "migrate.tables": "count",
        "migrate.dest_bytes_per_row": "B/row",
        "catalog.load_table_calls": "count",
        "catalog.hit_ratio": "ratio",
        "queries.build_s": "s",
        "queries.exec_s": "s",
    })
    for q in ANALYTICS_MIX:
        units[f"query.{q}.build_s"] = "s"
        units[f"query.{q}.exec_s"] = "s"
    units.update({f"spark.{k}": "count" for k in SPARK_COUNTS})
    units.update({f"spark.{k}": "B" for k in SPARK_BYTES})
    units.update({
        "spark.executor_run_s": "s",
        "spark.gc_s": "s",
        "spark.busy_frac": "ratio",
        "spark.source_reads_per_row": "ratio",
        "trace.op_s": "s",
        "trace.overhead_s": "s",
    })
    return units


def per_layer_metrics(spark, tracer, ops, session_s, setup, cpus) -> dict[str, tuple[float, str]]:
    units = metric_units()
    v: dict[str, float] = defaultdict(float)
    traced = [o for o in ops if o["traced"]]
    untraced = [o for o in ops if not o["traced"]]
    n_tr = max(len(traced), 1)
    by_id = {s["id"]: s for s in tracer.spans}

    def metric_of(span) -> str | None:
        name = span["name"]
        if name.startswith("query."):
            _, q, phase = name.split(".")
            return f"query.{q}.{phase}_s"
        if name == "dataframe.count":
            # the post-write audit inside Migration.run; any other
            # count belongs to the layer that called it
            parent = by_id.get(span["parent"])
            if parent is None:
                return None
            return "migrate.audit_s" if parent["name"] == "migrate.run" else metric_of(parent)
        return SPAN_METRICS.get(name)

    selfs = tracer.self_times()
    hits = calls = 0
    for s in tracer.spans:
        name, own, metric = s["name"], selfs[s["id"]] / n_tr, metric_of(s)
        if metric:
            v[metric] += own
            if metric.startswith("query."):
                v[f"queries.{metric.rsplit('.', 1)[1]}"] += own
        if name == "sources.reflection.reflect":
            v["sources.reflection.tables"] += s.get("n", 0) / n_tr
        elif name == "migrate.manifest":
            v["migrate.manifest_writes"] += 1 / n_tr
        elif name == "catalog.load_table":
            calls += 1
            hits += bool(s.get("hit"))
    v["catalog.load_table_calls"] = calls / n_tr
    v["catalog.hit_ratio"] = hits / calls if calls else 0.0
    v["session.start_s"] = statistics.median(session_s)
    v["session.cold_setup_s"] = setup[0]  # set-up cycle 0: process start to ready

    def per_op(key: str) -> float:
        return statistics.mean(o.get(key, 0) for o in ops)

    rows = per_op("rows")
    tables = per_op("tables")
    v["migrate.tables"] = tables
    v["operators.standardize.casts"] = per_op("casts")
    v["operators.standardize.drops"] = per_op("drops")
    v["migrate.dest_bytes_per_row"] = per_op("dest_bytes") / rows if tables else 0.0
    v["sources.bulkload.files_per_table"] = per_op("stage_files") / tables if tables else 0.0
    v["sources.bulkload.stage_bytes_per_row"] = per_op("stage_bytes") / rows if tables else 0.0

    groups = spark_metrics_by_group(spark)
    op_s = statistics.mean(o["s"] for o in ops)
    sm = {k: statistics.mean(groups.get(f"op{o['i']}", {}).get(k, 0) for o in ops)
          for k in SPARK_COUNTS + SPARK_BYTES + ["executor_run_ms", "gc_ms"]}
    for k in SPARK_COUNTS + SPARK_BYTES:
        v[f"spark.{k}"] = sm[k]
    v["spark.executor_run_s"] = sm["executor_run_ms"] / 1000
    v["spark.gc_s"] = sm["gc_ms"] / 1000
    v["spark.busy_frac"] = v["spark.executor_run_s"] / (op_s * cpus)
    v["spark.source_reads_per_row"] = sm["input_records"] / rows if rows else 0.0

    tr_med = statistics.median(o["s"] for o in traced) if traced else 0.0
    v["trace.op_s"] = tr_med
    v["trace.overhead_s"] = tr_med - statistics.median(o["s"] for o in untraced) if untraced else 0.0
    return {k: (float(v.get(k, 0.0)), u) for k, u in units.items()}
