"""Span capture around the engine's layer entry points (traced runs only).

The untraced run installs nothing. ``install_layer_spans`` replaces each
named entry point, in every ``etlalchemy_spark`` module that holds a
reference to it, with a wrapper that records a span (name, start, end,
parent, operation id); ``uninstall`` puts the originals back. Spans
stay in memory and are written once, at the end of the run.

Self time of a span is its duration minus the part of it covered by
its children, so the self times of all spans of one operation add up
to the operation's root span.

Spark's own per-job and per-stage metrics come from the status REST
API of the (traced-run-only) UI, keyed by the job group each operation
runs under.
"""

from __future__ import annotations

import functools
import json
import sys
import time
import urllib.request
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.op_id: int | None = None
        self.enabled = True

    # --- spans ------------------------------------------------------------
    def begin(self, name: str) -> int:
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "name": name, "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        })
        self._stack.append(sid)
        return sid

    def end(self, sid: int) -> None:
        self.spans[sid]["end"] = time.perf_counter()
        self._stack.pop()

    def wrap(self, name: str, fn, on_result=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            sid = self.begin(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                self.end(sid)
            if on_result is not None:
                on_result(self.spans[sid], args, kwargs, out)
            return out

        return traced

    # --- installation -----------------------------------------------------
    def patch_function(self, module, attr: str, name: str, on_result=None) -> None:
        """Wrap ``module.attr`` and every other engine-module global
        bound to the same function (``from x import f`` copies)."""
        orig = getattr(module, attr)
        wrapped = self.wrap(name, orig, on_result)
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("etlalchemy_spark"):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    self._patched.append((mod, key, orig))
                    setattr(mod, key, wrapped)

    def patch_method(self, cls, attr: str, name: str) -> None:
        orig = cls.__dict__[attr]
        self._patched.append((cls, attr, orig))
        setattr(cls, attr, self.wrap(name, orig))

    def uninstall(self) -> None:
        for owner, key, orig in reversed(self._patched):
            setattr(owner, key, orig)
        self._patched.clear()

    # --- analysis -----------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the union of its children's intervals."""
        kids: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        out = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for c in sorted(kids[s["id"]], key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str, extra: dict | None = None) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        selfs = self.self_times()
        rows = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0, "self": selfs[s["id"]]}
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump({"spans": rows, **(extra or {})}, fh, default=str)


def install_layer_spans(tracer: Tracer) -> None:
    """Wrap the engine's layer entry points (the per-layer metric set)."""
    try:  # the concrete class (Spark 4 overrides count there)
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    from etlalchemy_spark import catalog, migrate
    from etlalchemy_spark.operators import rules, standardize
    from etlalchemy_spark.sources import bulkload, files, jdbc, reflection

    seen_tables: set[int] = set()

    def table_hit(span, args, kwargs, df):
        span["hit"] = id(df) in seen_tables
        seen_tables.add(id(df))

    def table_count(span, args, kwargs, tables):
        span["n"] = len(tables)

    tracer.patch_function(reflection, "reflect_dir", "sources.reflection.reflect", table_count)
    tracer.patch_function(reflection, "reflect_jdbc", "sources.reflection.reflect", table_count)
    tracer.patch_function(files, "read_file", "sources.files.read")
    tracer.patch_function(files, "write_file", "sources.files.write")
    tracer.patch_function(files, "assert_loader_representable", "sources.files.validate")
    tracer.patch_function(files, "write_csv_for_bulk_load", "sources.files.csv_stage")
    tracer.patch_function(jdbc, "read_jdbc_partitioned", "sources.jdbc.probe")
    tracer.patch_function(bulkload, "bulk_load_duckdb", "sources.bulkload.load")
    tracer.patch_function(standardize, "observe", "operators.standardize.observe")
    tracer.patch_function(catalog, "load_table", "catalog.load_table", table_hit)
    tracer.patch_method(rules.SchemaRules, "transform", "operators.rules.transform")
    tracer.patch_method(migrate.Migration, "_save_manifest", "migrate.manifest")
    tracer.patch_method(migrate.Migration, "run", "migrate.run")
    # the only DataFrame.count inside Migration.run is the post-write
    # audit of a file target
    tracer.patch_method(DataFrame, "count", "dataframe.count")


# --- Spark status REST API ------------------------------------------------

def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


STAGE_FIELDS = {
    "executorRunTime": "executor_run_ms",
    "jvmGcTime": "gc_ms",
    "inputRecords": "input_records",
    "inputBytes": "input_bytes",
    "outputBytes": "output_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_bytes",
    "diskBytesSpilled": "spill_bytes",
    "numTasks": "tasks",
    "numFailedTasks": "failed_tasks",
}


def spark_metrics_by_group(spark) -> dict[str, dict[str, float]]:
    """job group -> summed job/stage metrics, from the status REST API."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    stages = {}
    for st in _get(f"{base}/stages?status=complete") + _get(f"{base}/stages?status=failed"):
        stages[(st["stageId"], st["attemptId"])] = st
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    counted: set[int] = set()
    # a stage reused by a later job is listed (skipped) there too: bill
    # it to the first job that lists it, the one that ran it
    for job in sorted(_get(f"{base}/jobs"), key=lambda j: j["jobId"]):
        g = out[job.get("jobGroup") or ""]
        g["jobs"] += 1
        for sid in set(job.get("stageIds", [])) - counted:
            counted.add(sid)
            for (s_id, _), st in stages.items():
                if s_id != sid:
                    continue
                g["stages"] += 1
                for src, dst in STAGE_FIELDS.items():
                    g[dst] += st.get(src, 0) or 0
    return {k: dict(v) for k, v in out.items()}
