"""Traced runs: spans around calls into ``hielo_spark``'s public functions,
recorded from the benchmark's side, plus the Spark event log joined to ops
by job group.

``Tracer`` keeps spans in memory (name, op id, start, end, parent; epoch
seconds) and turns them into per-op layer times after the run;
``NullTracer`` is the untraced stand-in with the same interface. Wrapping
replaces each target function in its module and in every loaded
``hielo_spark`` module that imported it by name, so calls made inside the
program are seen too. Functions that run in Python workers (DataSource
planning and commit, the pure-Python commit plane) are wrapped there by
``wtrace/sitecustomize.py``; their spans are joined to ops by time.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import sys
import time

# (module, attribute) → span name. A dotted attribute is a method.
TARGETS = {
    ("hielo_spark.io", "load_table"): "io.load_table",
    ("hielo_spark.io", "fan_out"): "io.fan_out",
    ("hielo_spark.catalog.warehouse", "discover_tables"): "catalog.warehouse.discover_tables",
    ("hielo_spark.metadata.metadata_json", "snapshots_from_metadata_json"):
        "metadata_json.snapshots_from_metadata_json",
    ("hielo_spark.metadata.metadata_json", "schemas_from_metadata_json"):
        "metadata_json.schemas_from_metadata_json",
    ("hielo_spark.metadata.snapshots", "timeline"): "snapshots.timeline",
    ("hielo_spark.metadata.schemas", "evolution_changes"): "schemas.evolution_changes",
    ("hielo_spark.metadata.schemas", "partition_source_join"): "schemas.partition_source_join",
    ("hielo_spark.metadata.properties", "table_properties"): "properties.table_properties",
    ("hielo_spark.engine", "Engine.health_dashboard"): "engine.health_dashboard",
    ("hielo_spark.analytics.health", "health_metrics"): "analytics.health.health_metrics",
    ("hielo_spark.analytics.health", "category_scores"): "analytics.health.category_scores",
    ("hielo_spark.analytics.health", "alerts"): "analytics.health.alerts",
    ("hielo_spark.analytics.health", "recommendations"): "analytics.health.recommendations",
    ("hielo_spark.operators.dedup", "minhash_neardup_pairs"):
        "operators.dedup.minhash_neardup_pairs",
    ("hielo_spark.metadata.commit", "append"): "commit.append",
    ("hielo_spark.metadata.commit", "delete_where"): "commit.delete_where",
    ("hielo_spark.metadata.commit", "rewrite_data_files"): "commit.rewrite_data_files",
    ("hielo_spark.metadata.commit", "expire_snapshots"): "commit.expire_snapshots",
    ("hielo_spark.ops.analysis", "remove_orphan_files"): "analysis.remove_orphan_files",
    ("hielo_spark.metadata.manifests", "read_table"): "manifests.read_table",
    ("hielo_spark.metadata.manifests", "files_from_manifest_list"):
        "manifests.files_from_manifest_list",
    ("hielo_spark.metadata.manifests", "read_manifest"): "manifests.read_manifest",
    ("hielo_spark.metadata.avro_py", "read_avro_file"): "avro_py.read_avro_file",
    ("hielo_spark.metadata.avro_py", "write_avro_file"): "avro_py.write_avro_file",
}

# spans recorded in Python workers (see wtrace/sitecustomize.py); the two
# avro_py names are also driver spans, and a metric sums both
WORKER_SPANS = ("commit_py.append_files", "sources.read.plan", "sources.write.commit",
                "avro_py.read_avro_file", "avro_py.write_avro_file")

# spans the workloads open themselves around actions (collect) and query
# construction; with TARGETS they are every layer the per-layer metrics name
OWN_SPANS = (
    "queries.build", "queries.exec",
    "browse.discover.exec", "browse.timeline.exec",
    "browse.schemas.exec", "browse.specs.exec", "browse.properties.exec",
    "lake.read_m.exec", "lake.read_ds", "lake.write_ds", "lake.ls",
)


class NullTracer:
    """Untraced runs: same calls, nothing recorded."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    @contextlib.contextmanager
    def op(self, spark, op_id: str):
        yield

    def count(self, key: str, n: int = 1) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self):
        self.spans: list[list] = []  # [name, op_id, start, end, parent_index]
        self.stack: list[int] = []
        self.op_id: str | None = None
        self.ops: dict[str, tuple[float, float]] = {}
        self.counts: dict[tuple[str, str], int] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        if self.op_id is None:  # outside a traced op (set-up, checks)
            yield
            return
        idx = len(self.spans)
        self.spans.append([name, self.op_id, time.time(), None,
                           self.stack[-1] if self.stack else None])
        self.stack.append(idx)
        try:
            yield
        finally:
            self.stack.pop()
            self.spans[idx][3] = time.time()

    @contextlib.contextmanager
    def probe(self):
        """Work the tracer does inside an op to measure it (e.g. which
        files a scan read); its time is taken out of the op's wall."""
        with self.span("probe"):
            yield

    def count(self, key: str, n: int = 1) -> None:
        if self.op_id is not None:
            k = (self.op_id, key)
            self.counts[k] = self.counts.get(k, 0) + n

    @contextlib.contextmanager
    def op(self, spark, op_id: str):
        """One op: root span, and its Spark jobs tagged with ``op_id``."""
        sc = spark.sparkContext
        sc.setJobGroup(op_id, op_id)
        self.op_id = op_id
        t0 = time.time()
        try:
            with self.span("op"):
                yield
        finally:
            self.ops[op_id] = (t0, time.time())
            self.op_id = None
            sc.setJobGroup("untraced", "untraced")

    # ---------------------------------------------------------------- wrap
    def install(self) -> None:
        for (mod_name, attr), span_name in TARGETS.items():
            mod = importlib.import_module(mod_name)
            owner, leaf = mod, attr
            if "." in attr:
                cls, leaf = attr.split(".")
                owner = getattr(mod, cls)
            orig = getattr(owner, leaf)
            wrapped = self._wrap(orig, span_name)
            setattr(owner, leaf, wrapped)
            if owner is mod:  # rebind ``from x import f`` copies as well
                for m in list(sys.modules.values()):
                    if getattr(m, "__name__", "").startswith("hielo_spark") and \
                            getattr(m, attr, None) is orig:
                        setattr(m, attr, wrapped)

    def _wrap(self, fn, span_name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with tracer.span(span_name):
                out = fn(*a, **kw)
            tracer.count(span_name + ".calls")
            if span_name == "io.fan_out" and a and out is not a[0]:
                tracer.count("io.fan_out.widened")
            return out

        return wrapper

    # ------------------------------------------------------------- results
    def per_op(self, worker_spans: list[list] = ()) -> dict[str, dict[str, float]]:
        """op id → {layer: inclusive s, layer.self: self s, layer.calls,
        'op': wall s without probes, 'op.self': its time outside every span}.
        ``worker_spans`` ([name, pid, start, end]) count toward the op whose
        interval holds their start; their self time nests within a pid."""
        child = [0.0] * len(self.spans)
        for name, _, s, e, parent in self.spans:
            if parent is not None and name != "probe":
                child[parent] += e - s
        out: dict[str, dict[str, float]] = {}
        for i, (name, op_id, s, e, parent) in enumerate(self.spans):
            d = out.setdefault(op_id, {})
            d[name] = d.get(name, 0.0) + (e - s)
            d[name + ".self"] = d.get(name + ".self", 0.0) + (e - s - child[i])
        for d in out.values():
            d["op"] -= d.get("probe", 0.0)
            d["op.self"] -= d.get("probe", 0.0)
        for (op_id, key), n in self.counts.items():
            out.setdefault(op_id, {})[key] = n
        for name, _, s, e, self_s in _self_times(worker_spans):
            op_id = next((o for o, (t0, t1) in self.ops.items() if t0 <= s <= t1), None)
            if op_id is not None:
                d = out.setdefault(op_id, {})
                d[name] = d.get(name, 0.0) + (e - s)
                d[name + ".self"] = d.get(name + ".self", 0.0) + self_s
                d[name + ".calls"] = d.get(name + ".calls", 0) + 1
        return out


def _self_times(worker_spans) -> list[tuple]:
    """[name, pid, start, end] → (name, pid, start, end, self s): within a
    pid, a span's children are the spans that start inside it."""
    by_pid: dict[int, list] = {}
    for r in worker_spans:
        by_pid.setdefault(r[1], []).append(r)
    result = []
    for spans in by_pid.values():
        spans.sort(key=lambda r: (r[2], -r[3]))
        child = [0.0] * len(spans)
        stack: list[int] = []
        for i, (_, _, s, e) in enumerate(spans):
            while stack and spans[stack[-1]][3] <= s:
                stack.pop()
            if stack:
                child[stack[-1]] += e - s
            stack.append(i)
        for i, (name, pid, s, e) in enumerate(spans):
            result.append((name, pid, s, e, e - s - child[i]))
    return result


def read_worker_spans(span_dir: str) -> list[list]:
    """[name, pid, start, end] of every span the workers wrote."""
    out = []
    for fn in sorted(os.listdir(span_dir)):
        pid = int(fn.split(".")[0])
        with open(os.path.join(span_dir, fn)) as f:
            for line in f:
                name, s, e = json.loads(line)
                out.append([name, pid, s, e])
    return out


# ---------------------------------------------------------------- event log
def read_event_log(log_dir: str) -> list[dict]:
    """Every event of every (uncompressed, possibly rolling) log under
    ``log_dir``."""
    events = []
    for d, _, files in sorted(os.walk(log_dir)):
        for fn in sorted(files):
            if fn.startswith("appstatus") or fn.endswith(".inprogress.crc"):
                continue
            with open(os.path.join(d, fn)) as f:
                for line in f:
                    if line.startswith("{"):
                        events.append(json.loads(line))
    return events


# SQL metrics of the Python worker nodes (ArrowEvalPython, MapInPandas);
# times are in ms
PYTHON_ACCUMULABLES = {
    "time to run Python workers": "spark.python_run_s",
    "time to start Python workers": "spark.python_start_s",
    "time to initialize Python workers": "spark.python_start_s",
    "data sent to Python workers": "spark.python_bytes",
    "data returned from Python workers": "spark.python_bytes",
}


def jobs_in(events: list[dict], intervals: list[tuple[float, float]]) -> int:
    """Spark jobs submitted inside any of the (epoch s) intervals."""
    n = 0
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            t = ev.get("Submission Time", 0) / 1000
            n += any(s <= t <= e for s, e in intervals)
    return n


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def spark_per_op(events: list[dict], ops: dict[str, tuple[float, float]],
                 cores: int) -> dict[str, dict[str, float]]:
    """Per op id: job/stage/task counts, executor, scheduler and driver-only
    time, Python worker rows and shuffle bytes, from the event log."""
    stage_op: dict[int, str] = {}
    jobs: dict[str, int] = {}
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if g in ops:
                jobs[g] = jobs.get(g, 0) + 1
                for sid in ev.get("Stage IDs", []):
                    stage_op[sid] = g
    out = {op: {"spark.jobs": float(jobs.get(op, 0)), "spark.stages": 0.0, "spark.tasks": 0.0,
                "spark.scheduler_delay_s": 0.0, "spark.executor_run_s": 0.0,
                "spark.executor_cpu_s": 0.0, "spark.gc_s": 0.0,
                "spark.shuffle_write_bytes": 0.0, "spark.python_run_s": 0.0,
                "spark.python_start_s": 0.0, "spark.python_bytes": 0.0}
           for op in ops}
    spans: dict[str, list] = {op: [] for op in ops}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            op = stage_op.get(info["Stage ID"])
            if op is None or "Submission Time" not in info:
                continue
            d = out[op]
            d["spark.stages"] += 1
            spans[op].append((info["Submission Time"] / 1000, info["Completion Time"] / 1000))
            for acc in info.get("Accumulables", []):
                key = PYTHON_ACCUMULABLES.get(acc.get("Name"))
                if key is not None:
                    scale = 1.0 if key == "spark.python_bytes" else 1000.0
                    d[key] += float(acc["Value"]) / scale
        elif kind == "SparkListenerTaskEnd":
            op = stage_op.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if op is None or not m:
                continue
            info = ev["Task Info"]
            d = out[op]
            d["spark.tasks"] += 1
            run = m.get("Executor Run Time", 0)
            d["spark.executor_run_s"] += run / 1000
            d["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            d["spark.gc_s"] += m.get("JVM GC Time", 0) / 1000
            d["spark.shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            wall = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            delay = wall - run - m.get("Executor Deserialize Time", 0) - \
                m.get("Result Serialization Time", 0)
            if info.get("Getting Result Time"):
                delay -= info["Finish Time"] - info["Getting Result Time"]
            d["spark.scheduler_delay_s"] += max(0, delay) / 1000
    for op, (t0, t1) in ops.items():
        wall = t1 - t0
        clipped = [(max(s, t0), min(e, t1)) for s, e in spans[op] if e > t0 and s < t1]
        out[op]["spark.driver_only_s"] = wall - _union_len(clipped)
        out[op]["spark.slot_busy_frac"] = out[op]["spark.executor_run_s"] / (wall * cores)
    return out
