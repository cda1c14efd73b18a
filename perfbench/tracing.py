"""Traced mode: spans around the public calls into each layer, counts taken
at the same boundaries, and Spark stage metrics from the event log.

Spans are recorded by wrapping module and class attributes from outside
the program (``install``); nothing in the package is edited. Each span
keeps (name, start, end, parent, op). Jobs from the event log are
attributed to the innermost span whose interval holds the job's submission
time: the loop is closed and single-threaded, so at any instant exactly
one chain of spans is open. Counting work done for the trace itself runs
in ``trace.count`` spans, which are left out of every layer's figures and
reported as tracing cost.

Timings of lazy builders (``read_binlog_files``, ``compact_changes``,
``check_diff``) cover plan construction only; their executor work runs
inside the consuming action's span (``cdc.apply_batch``,
``parquet_table.merge_apply``, ``check_log.write``).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq

# Spans that get the full stage breakdown, with the e2e metric each should
# move (see README.md).
STAGE_SPANS = [
    "task.snapshot",
    "task.check",
    "task.revise",
    "check_log.write",
    "cdc.apply_batch",
    "parquet_table.merge_apply",
]
LAZY_SPANS = ["checker.check_diff", "merge.compact_changes", "binlog_file.read_binlog_files"]
STAGE_FIELDS = [
    ("executor_run_s", "s"),
    ("executor_cpu_s", "s"),
    ("gc_s", "s"),
    ("shuffle_read_bytes", "bytes"),
    ("shuffle_write_bytes", "bytes"),
    ("n_jobs", "count"),
    ("n_stages", "count"),
    ("driver_s", "s"),
]
COUNTS = [
    ("snapshot.rows_read", "rows"),
    ("snapshot.rows_written", "rows"),
    ("snapshot.bytes_written", "bytes"),
    ("snapshot.files_written", "count"),
    ("checker.rows_compared", "rows"),
    ("checker.rows_flagged", "rows"),
    ("binlog_file.events", "rows"),
    ("binlog_file.bytes_in", "bytes"),
    ("binlog_file.decode_s", "s"),
    ("binlog_file.python_bytes_out", "bytes"),
    ("merge.events_in", "rows"),
    ("merge.keys_out", "rows"),
    ("merge.spilled_rows", "rows"),
    ("merge.compaction_ratio", "ratio"),
    ("parquet_table.rows_written", "rows"),
    ("parquet_table.write_amplification", "ratio"),
    ("parquet_table.files_per_version", "count"),
    ("cdc.jobs_per_batch", "count"),
    ("cdc.stages_per_batch", "count"),
    ("trace.op_wall_s", "s"),
    ("trace.untraced_op_wall_s", "s"),
    ("trace.overhead_share", "ratio"),
    ("trace.unattributed_s", "s"),
    ("trace.count_s", "s"),
    ("trace.ops", "count"),
]


def per_layer_spec() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in report order. Unless the
    name says otherwise, values are per closed-loop operation."""
    spec = [("session.get_spark_s", "s")]
    for s in STAGE_SPANS:
        spec += [(f"{s}_s", "s"), (f"{s}_self_s", "s")]
        spec += [(f"{s}.{f}", u) for f, u in STAGE_FIELDS]
    spec += [(f"{s}_s", "s") for s in LAZY_SPANS]
    return spec + COUNTS


class Tracer:
    """Span and count recorder. Disabled until ``enabled`` is set, so the
    wrappers cost one attribute test outside the traced phase."""

    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.op: int | None = None
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._pending: dict[int, tuple] = {}

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        with self._lock:
            rec = {"name": name, "start": time.time(), "end": None,
                   "parent": self._stack[-1] if self._stack else None, "op": self.op}
            self.spans.append(rec)
            self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            with self._lock:
                self._stack.pop()
                rec["end"] = time.time()

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] += value


def _parquet_stats(path: str) -> tuple[int, int, int]:
    """(rows, bytes, files) of the parquet part files under ``path``."""
    rows = size = files = 0
    for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        rows += pq.read_metadata(p).num_rows
        size += os.path.getsize(p)
        files += 1
    return rows, size, files


def _wrap(tracer: Tracer, owner, attr: str, name, after=None) -> None:
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        if not tracer.enabled:
            return orig(*args, **kwargs)
        with tracer.span(name(args, kwargs) if callable(name) else name):
            out = orig(*args, **kwargs)
        if after is not None:
            after(args, kwargs, out)
        return out

    setattr(owner, attr, wrapper)


def install(tracer: Tracer) -> None:
    """Wrap the public calls into each layer. Call before the workload
    objects are built."""
    from ape_dts_spark import task
    from ape_dts_spark.operators import check_log, checker, merge
    from ape_dts_spark.sinks.parquet_table import ParquetTable
    from ape_dts_spark.sources import binlog_file
    from ape_dts_spark.streaming import cdc

    kinds = {"snapshot": "task.snapshot", "check": "task.check", "check_log": "task.revise"}

    def task_name(args, kwargs):
        cfg = args[1] if len(args) > 1 else kwargs["cfg"]
        kind = cfg.extractor.get("extract_type", "snapshot")
        return kinds.get(kind, f"task.{kind}")

    def after_task(args, kwargs, result):
        cfg = args[1] if len(args) > 1 else kwargs["cfg"]
        kind = cfg.extractor.get("extract_type", "snapshot")
        src = cfg.extractor.get("url", "")
        tables = [t for t in cfg.extractor.get("tables", "").split(",") if t]
        if kind == "snapshot":
            tracer.add("snapshot.rows_read", sum(_parquet_stats(f"{src}/{t}.parquet")[0] for t in tables))
            for out in result.outputs.values():
                rows, size, files = _parquet_stats(out)
                tracer.add("snapshot.rows_written", rows)
                tracer.add("snapshot.bytes_written", size)
                tracer.add("snapshot.files_written", files)
        elif kind == "check":
            cmp_dir = cfg.sinker.get("compare_url", "")
            for t in tables:
                tracer.add("checker.rows_compared", _parquet_stats(f"{src}/{t}.parquet")[0]
                           + _parquet_stats(f"{cmp_dir}/{t}.parquet")[0])

    _wrap(tracer, task, "run_task", task_name, after_task)

    for mod in (checker, task):
        _wrap(tracer, mod, "check_diff", "checker.check_diff")

    def after_write(args, kwargs, _):
        path = args[4] if len(args) > 4 else kwargs["path"]
        for p in glob.glob(os.path.join(path, "**", "*.txt"), recursive=True):
            with open(p, "rb") as f:
                tracer.add("checker.rows_flagged", sum(1 for line in f if line.strip()))

    for mod in (check_log, task):
        _wrap(tracer, mod, "write_check_log", "check_log.write", after_write)

    def after_read(args, kwargs, _):
        path = args[1] if len(args) > 1 else kwargs["path"]
        paths = [path] if os.path.isfile(path) else glob.glob(os.path.join(path, "*"))
        tracer.add("binlog_file.bytes_in", sum(os.path.getsize(p) for p in paths))

    _wrap(tracer, binlog_file, "read_binlog_files", "binlog_file.read_binlog_files", after_read)
    _wrap(tracer, cdc.CdcPipeline, "apply_batch", "cdc.apply_batch")

    def after_compact(args, kwargs, out):
        compacted, spilled = out
        tracer._pending[id(compacted)] = (args[0], spilled)

    for mod in (merge, cdc):
        _wrap(tracer, mod, "compact_changes", "merge.compact_changes", after_compact)

    def after_merge(args, kwargs, _):
        table, compacted = args[0], args[1]
        with tracer.span("trace.count"):
            keys = compacted.count()
            pending = tracer._pending.pop(id(compacted), None)
            if pending is not None:
                tracer.add("merge.events_in", pending[0].count())
                tracer.add("merge.keys_out", keys)
                tracer.add("merge.spilled_rows", pending[1].count())
            rows, _, files = _parquet_stats(version_dir(table.path))
        tracer.add("parquet_table.rows_written", rows)
        tracer.add("parquet_table.files_per_version", files)
        tracer.add("parquet_table.keys_changed", keys)
        tracer.add("parquet_table.versions", 1)

    _wrap(tracer, ParquetTable, "merge_apply", "parquet_table.merge_apply", after_merge)


def version_dir(table_path: str) -> str:
    """Directory of a ParquetTable's current version (its on-disk layout)."""
    with open(os.path.join(table_path, "_meta.json")) as f:
        return os.path.join(table_path, f"v{json.load(f)['version']}")


# -- event log -----------------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the one application logged under ``log_dir`` (Spark
    4 writes a rolling zstd log: eventlog_v2_<app>/events_<n>_<app>.zstd)."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    events = []
    for p in files:
        compression = "zstd" if p.endswith(".zstd") else None
        with pa.input_stream(p, compression=compression) as f:
            events += [json.loads(line) for line in f.read().decode().splitlines() if line]
    return events


def _plan_accumulators(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"])
    for child in node.get("children", []):
        _plan_accumulators(child, out)


def job_table(events: list[dict]) -> list[dict]:
    """Jobs with their submission time and the stages they ran, each stage
    with its interval, summed task metrics and RDD scope names."""
    acc_names: dict[int, tuple] = {}
    jobs, owner = [], {}
    for e in events:
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _plan_accumulators(e["sparkPlanInfo"], acc_names)
        elif kind == "SparkListenerJobStart":
            jobs.append({"id": e["Job ID"], "t": e["Submission Time"] / 1000.0, "stages": []})
            for sid in e["Stage IDs"]:
                owner.setdefault(sid, jobs[-1])
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            if "Submission Time" not in si or "Completion Time" not in si:
                continue
            acc = defaultdict(float)
            for a in si.get("Accumulables", []):
                try:
                    value = float(a["Value"])
                except (TypeError, ValueError):
                    continue
                acc[a["Name"]] += value
                node = acc_names.get(a["ID"])
                if node is not None:
                    acc[f"{node[0]}/{node[1]}"] += value
            scopes = set()
            for r in si.get("RDD Info", []):
                try:
                    scopes.add(json.loads(r.get("Scope") or "{}").get("name", ""))
                except ValueError:
                    pass
            st = {"start": si["Submission Time"] / 1000.0,
                  "end": si["Completion Time"] / 1000.0, "acc": acc, "scopes": scopes}
            if si["Stage ID"] in owner:
                owner[si["Stage ID"]]["stages"].append(st)
    return jobs


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _self_time(spans: list[dict], i: int, children: dict) -> float:
    s = spans[i]
    kids = [(spans[c]["start"], spans[c]["end"]) for c in children.get(i, ())]
    return (s["end"] - s["start"]) - _union_len(kids)


def layer_metrics(
    tracer: Tracer, events: list[dict], n_ops: int, extra: dict[str, float]
) -> dict[str, float]:
    """Fold spans, counts and the event log into the per-layer metrics of
    ``per_layer_spec``: per closed-loop operation, each span inclusive of
    its children except ``trace.count``. ``extra`` supplies the figures
    measured by the loop itself (traced and untraced wall)."""
    spans = [s for s in tracer.spans if s["end"] is not None]
    index = {id(s): i for i, s in enumerate(spans)}
    remap = {j: index.get(id(s)) for j, s in enumerate(tracer.spans)}
    parent = [remap.get(s["parent"]) if s["parent"] is not None else None for s in spans]
    children: dict[int, list[int]] = defaultdict(list)
    for i, p in enumerate(parent):
        if p is not None:
            children[p].append(i)

    def in_trace_count(i):
        while i is not None:
            if spans[i]["name"] == "trace.count":
                return True
            i = parent[i]
        return False

    jobs = job_table(events)
    by_span: dict[int, list[dict]] = defaultdict(list)
    for job in jobs:
        best = None
        for i, s in enumerate(spans):
            if s["start"] - 0.002 <= job["t"] <= s["end"] + 0.002:
                if best is None or s["start"] >= spans[best]["start"]:
                    best = i
        if best is not None:
            by_span[best].append(job)

    def count_wall(i):
        """Wall of the trace.count spans under span i."""
        return sum(
            spans[c]["end"] - spans[c]["start"] if spans[c]["name"] == "trace.count" else count_wall(c)
            for c in children.get(i, ())
        )

    def subtree_jobs(i):
        out = list(by_span.get(i, ()))
        for c in children.get(i, ()):
            if spans[c]["name"] != "trace.count":
                out += subtree_jobs(c)
        return out

    ops = max(n_ops, 1)
    m: dict[str, float] = defaultdict(float)
    for i, s in enumerate(spans):
        name = s["name"]
        wall = s["end"] - s["start"] - count_wall(i)  # tracing cost left out
        if name == "session.get_spark":
            m["session.get_spark_s"] += wall
            continue
        if name == "trace.count":
            m["trace.count_s"] += wall / ops
            continue
        if name == "op":
            m["trace.unattributed_s"] += _self_time(spans, i, children) / ops
            continue
        if in_trace_count(i):
            continue
        if name in LAZY_SPANS:
            m[f"{name}_s"] += wall / ops
        if name not in STAGE_SPANS:
            continue
        m[f"{name}_s"] += wall / ops
        m[f"{name}_self_s"] += _self_time(spans, i, children) / ops
        own_jobs = subtree_jobs(i)
        stage_list = [st for j in own_jobs for st in j["stages"]]
        for st in stage_list:
            a = st["acc"]
            m[f"{name}.executor_run_s"] += a["internal.metrics.executorRunTime"] / 1000.0 / ops
            m[f"{name}.executor_cpu_s"] += a["internal.metrics.executorCpuTime"] / 1e9 / ops
            m[f"{name}.gc_s"] += a["internal.metrics.jvmGCTime"] / 1000.0 / ops
            m[f"{name}.shuffle_read_bytes"] += (
                a["internal.metrics.shuffle.read.remoteBytesRead"]
                + a["internal.metrics.shuffle.read.localBytesRead"]
            ) / ops
            m[f"{name}.shuffle_write_bytes"] += a["internal.metrics.shuffle.write.bytesWritten"] / ops
        m[f"{name}.n_jobs"] += len(own_jobs) / ops
        m[f"{name}.n_stages"] += len(stage_list) / ops
        busy = _union_len([(max(st["start"], s["start"]), min(st["end"], s["end"]))
                           for st in stage_list if st["end"] > s["start"]])
        m[f"{name}.driver_s"] += (wall - busy) / ops

    # Python boundary of the binlog decode (the MapInPandas stages)
    for i, job_list in by_span.items():
        if in_trace_count(i) or spans[i]["name"] == "session.get_spark":
            continue
        for st in (st for job in job_list for st in job["stages"]):
            if "MapInPandas" in st["scopes"]:
                a = st["acc"]
                m["binlog_file.decode_s"] += a["time to run Python workers"] / 1000.0 / ops
                m["binlog_file.events"] += a["MapInPandas/number of output rows"] / ops
                m["binlog_file.python_bytes_out"] += a["data returned from Python workers"] / ops

    c = tracer.counts
    for name in ("snapshot.rows_read", "snapshot.rows_written", "snapshot.bytes_written",
                 "snapshot.files_written", "checker.rows_compared", "checker.rows_flagged",
                 "binlog_file.bytes_in", "merge.events_in", "merge.keys_out",
                 "merge.spilled_rows", "parquet_table.rows_written"):
        m[name] = c.get(name, 0.0) / ops
    if c.get("merge.events_in"):
        m["merge.compaction_ratio"] = c["merge.keys_out"] / c["merge.events_in"]
    if c.get("parquet_table.keys_changed"):
        m["parquet_table.write_amplification"] = c["parquet_table.rows_written"] / c["parquet_table.keys_changed"]
    if c.get("parquet_table.versions"):
        m["parquet_table.files_per_version"] = c["parquet_table.files_per_version"] / c["parquet_table.versions"]
    m["cdc.jobs_per_batch"] = m.get("cdc.apply_batch.n_jobs", 0.0)
    m["cdc.stages_per_batch"] = m.get("cdc.apply_batch.n_stages", 0.0)
    m["trace.ops"] = float(n_ops)
    m.update(extra)
    return {name: float(m.get(name, 0.0)) for name, _ in per_layer_spec()}
