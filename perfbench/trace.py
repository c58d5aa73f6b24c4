"""Traced runs: spans around the engine's layer functions.

``Tracer.install()`` replaces each function of ``TARGETS`` with a timing
wrapper, in its defining module and in every loaded ``guidewire_spark``
or benchmark module that imported it by name (``indexer`` binds
``write_commit`` by name, so patching ``deltalog`` alone would miss its
calls).  The package itself is never edited.  Each wrapper records one
span per call: name, start, end, parent span and op id.  Spans stay in
memory and are written as JSONL when the run ends.

A traced run alternates traced and untraced ops (one of each pair; the
wrappers of an untraced op call straight through), so the layer figures
cover a fixed set of ops, and the two interleaved latency samples give
the tracing overhead with host drift cancelled.

From the spans the tracer derives per-layer calls, busy and self time
and counts; from the run's zstd Spark event log (enabled in traced runs
only) the Spark figures of the traced ops, attributed through the job
groups the workloads set.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import itertools
import json
import os
import statistics
import sys
import threading
import time

# (module, function, span name).  Two private helpers are wrapped where
# a public function's work is otherwise invisible: one span per JSON
# commit replayed, one per parquet footer opened.
TARGETS = [
    ("guidewire_spark.sources.manifest", "read_manifest", "manifest.read"),
    ("guidewire_spark.sources.checkpoints", "load_checkpoints", "checkpoints.load"),
    ("guidewire_spark.sources.checkpoints", "save_checkpoints", "checkpoints.save"),
    ("guidewire_spark.sources.fs", "list_timestamp_dirs", "fs.list_dirs"),
    ("guidewire_spark.sources.fs", "list_parquet_files", "fs.list_files"),
    ("guidewire_spark.sources.schema", "infer_schema_from_files", "schema.infer"),
    ("guidewire_spark.sources.schema", "_footer", "schema.footer"),
    ("guidewire_spark.sources.indexer", "index", "indexer.index"),
    ("guidewire_spark.sources.indexer", "process_table", "indexer.table"),
    ("guidewire_spark.sources.indexer", "discover_batches", "indexer.discover"),
    ("guidewire_spark.sources.indexer", "commit_batches", "indexer.commit"),
    ("guidewire_spark.sources.deltalog", "write_commit", "deltalog.commit"),
    ("guidewire_spark.sources.log_checkpoint", "write_log_checkpoint", "log_checkpoint.write"),
    ("guidewire_spark.sources.log_checkpoint", "load_checkpoint_state", "log_checkpoint.state_read"),
    ("guidewire_spark.sources.snapshot", "load_snapshot", "snapshot.load"),
    ("guidewire_spark.sources.snapshot", "_read_commit", "snapshot.json_commit"),
    ("guidewire_spark.sources.snapshot", "read_delta", "snapshot.read_delta"),
    ("guidewire_spark.sources.writer", "merge_into", "writer.merge"),
]

# Layers that report self time; ``operators`` spans come from the query
# workload, which times construct and execute itself.
LAYERS = [
    "manifest", "checkpoints", "fs", "schema", "indexer", "deltalog",
    "log_checkpoint", "snapshot", "writer", "operators",
]


def _union_ns(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    covered, cursor = 0, lo
    for start, end in sorted(intervals):
        start, end = max(start, cursor), min(end, hi)
        if end > start:
            covered += end - start
            cursor = end
    return covered


class Tracer:
    def __init__(self, event_log_dir: str | None) -> None:
        self.event_log_dir = event_log_dir
        self.spans: list[tuple] = []  # (id, op, parent, name, start_ns, end_ns)
        self.counts: dict[str, float] = {}
        self.samples: dict[str, list[float]] = {}
        self.installed: list[str] = []
        self.traced_ops: list[int] = []
        self.latencies = {True: [], False: []}  # traced -> op seconds
        self._ids = itertools.count(1)
        self._op = 0
        self._active = False
        self.spark = None  # set by Spark workloads, for job groups
        self._local = threading.local()
        self._main = self._stack()
        self._lock = threading.Lock()

    @property
    def enabled(self) -> bool:
        return self.event_log_dir is not None

    # -- recording ---------------------------------------------------------

    def _stack(self) -> list[tuple[int, str]]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _within(self, prefix: str) -> bool:
        return any(name.startswith(prefix) for _, name in self._stack() + self._main)

    def count(self, key: str, n: float = 1) -> None:
        if self._op < 0:
            return  # counts cover the timed ops only
        with self._lock:
            self.counts[key] = self.counts.get(key, 0) + n

    @contextlib.contextmanager
    def span(self, name: str):
        if not self._active:
            yield
            return
        stack = self._stack()
        parent = stack[-1][0] if stack else (self._main[-1][0] if self._main else 0)
        span_id = next(self._ids)
        stack.append((span_id, name))
        start = time.perf_counter_ns()
        try:
            yield
        finally:
            end = time.perf_counter_ns()
            stack.pop()
            with self._lock:
                self.spans.append((span_id, self._op, parent, name, start, end))

    @contextlib.contextmanager
    def sample(self, name: str):
        """Time the block, in ms, as one sample of ``name`` (traced ops
        only)."""
        if not self._active:
            yield
            return
        start = time.perf_counter_ns()
        try:
            yield
        finally:
            self.samples.setdefault(name, []).append((time.perf_counter_ns() - start) / 1e6)

    def traced(self, index: int) -> bool:
        """Whether op ``index`` is traced.  Timed ops follow the
        Thue-Morse sequence, so every pair of ops holds one traced op
        and no periodic event (a checkpoint every tenth commit) falls on
        traced ops only.  Set-up steps traced on purpose have negative
        indices and are always traced."""
        return self.enabled and (index < 0 or bin(index).count("1") % 2 == 0)

    @contextlib.contextmanager
    def op(self, kind: str, index: int | None):
        """One op: traced ops get an op id and a root span.  ``index``
        is None for untraced set-up work, negative for a traced set-up
        step (kept apart from the timed ops' figures)."""
        if index is None or not self.traced(index):
            yield
            return
        self._op = index
        if index >= 0:
            self.traced_ops.append(index)
        self._active = True
        try:
            with self.span(f"op.{kind}"):
                yield
        finally:
            self._active = False
            if self.spark is not None:  # later jobs belong to no op
                self.spark.sparkContext.setJobGroup("between_ops", "")

    def add_latency(self, index: int, seconds: float) -> None:
        if self.enabled:
            self.latencies[self.traced(index)].append(seconds)

    # -- installation --------------------------------------------------------

    def _wrap(self, fn, name: str):
        tracer = self
        after = getattr(self, "_after_" + name.replace(".", "_"), None)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer._active:
                return fn(*args, **kwargs)
            with tracer.span(name):
                try:
                    result = fn(*args, **kwargs)
                except FileExistsError:
                    if name == "deltalog.commit":
                        tracer.count("deltalog.commit_retries")
                    raise
                if after is not None:
                    after(result, args, kwargs)
            return result

        return wrapper

    def install(self) -> None:
        """Wrap every target wherever it is bound.  Call after the
        workload's imports."""
        if not self.enabled:
            return
        for module_name, attr, name in TARGETS:
            module = importlib.import_module(module_name)
            original = getattr(module, attr)
            wrapper = self._wrap(original, name)
            for mod_name, mod in list(sys.modules.items()):
                if mod is None or not mod_name.startswith(("guidewire_spark", "perfbench")):
                    continue
                for key, value in list(vars(mod).items()):
                    if value is original:
                        setattr(mod, key, wrapper)
                        self.installed.append(f"{mod_name}.{key}")

    # -- counts taken at the boundaries ----------------------------------------

    def _after_fs_list_dirs(self, result, args, kwargs) -> None:
        self.count("fs.entries_listed", len(result))

    def _after_fs_list_files(self, result, args, kwargs) -> None:
        self.count("fs.entries_listed", len(result))

    def _after_indexer_commit(self, result, args, kwargs) -> None:
        self.count("indexer.batches_committed", len(result))

    def _after_deltalog_commit(self, result, args, kwargs) -> None:
        self.count("deltalog.log_bytes", os.path.getsize(result))
        if self._within("writer."):
            actions = args[2] if len(args) > 2 else kwargs["actions"]
            self.count("writer.files_added", sum("add" in a for a in actions))
            self.count("writer.files_removed", sum("remove" in a for a in actions))
            self.count("writer.bytes_added", sum(a["add"].get("size", 0) for a in actions if "add" in a))

    # -- Spark event log ---------------------------------------------------------

    def spark_conf(self) -> dict[str, str]:
        if not self.enabled:
            return {}
        os.makedirs(self.event_log_dir, exist_ok=True)
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + self.event_log_dir,
            "spark.eventLog.compress": "true",
            "spark.eventLog.compression.codec": "zstd",
        }

    def set_group(self, part: str) -> None:
        """Tag the jobs of the traced op's ``part`` with job group
        ``op<index>.<part>``."""
        if self._active and self.spark is not None:
            self.spark.sparkContext.setJobGroup(f"op{self._op}.{part}", part)

    def _events(self):
        # Spark 4 rolls the log: eventlog_v2_<app>/events_<n>_<app>[.zstd]
        import pyarrow as pa

        paths = glob.glob(os.path.join(self.event_log_dir, "**", "events_*"), recursive=True)
        for path in sorted(paths, key=lambda p: int(os.path.basename(p).split("_")[1])):
            if path.endswith(".zstd"):
                with pa.CompressedInputStream(pa.OSFile(path), "zstd") as stream:
                    text = stream.read().decode("utf-8")
            else:
                with open(path, encoding="utf-8") as fh:
                    text = fh.read()
            for line in text.splitlines():
                if line:
                    yield json.loads(line)

    def spark_groups(self) -> dict[str, dict[str, float]]:
        """Per job group: jobs, tasks, executor run and CPU seconds,
        shuffle bytes written, bytes spilled and Python worker ms.
        Read after ``spark.stop()`` has flushed the log."""
        stage_group: dict[int, str] = {}
        groups: dict[str, dict[str, float]] = {}

        def bucket(group: str) -> dict[str, float]:
            return groups.setdefault(group, dict.fromkeys(
                ["jobs", "tasks", "run_s", "cpu_s", "shuffle_write_bytes", "spill_bytes", "python_ms"], 0.0))

        for event in self._events():
            kind = event.get("Event")
            if kind == "SparkListenerJobStart":
                group = (event.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    bucket(group)["jobs"] += 1
                    for stage in event.get("Stage IDs", []):
                        stage_group[stage] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(event.get("Stage ID"))
                if group is None:
                    continue
                b = bucket(group)
                m = event.get("Task Metrics") or {}
                b["tasks"] += 1
                b["run_s"] += m.get("Executor Run Time", 0) / 1e3
                b["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                b["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                b["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                for acc in (event.get("Task Info") or {}).get("Accumulables", []):
                    name = str(acc.get("Name", ""))
                    if "python" in name.lower() and "time" in name.lower():
                        try:
                            b["python_ms"] += float(acc.get("Update", 0))
                        except (TypeError, ValueError):
                            pass
        return groups

    # -- derived figures -----------------------------------------------------------

    def by_name(self, setup: bool = False) -> dict[str, list[float]]:
        """Span durations in ms, by span name, of the timed ops (or of
        the traced set-up steps)."""
        out: dict[str, list[float]] = {}
        for _, op, _, name, start, end in self.spans:
            if (op < 0) == setup:
                out.setdefault(name, []).append((end - start) / 1e6)
        return out

    def _children(self) -> dict[int, list[tuple[int, int]]]:
        children: dict[int, list[tuple[int, int]]] = {}
        for _, _, parent, _, start, end in self.spans:
            children.setdefault(parent, []).append((start, end))
        return children

    def self_ms(self) -> dict[str, float]:
        """Per layer: the time of its spans not covered by their child
        spans.  Children of the same layer report their own self time,
        so the layer's sum is its time outside every other layer."""
        children = self._children()
        totals = dict.fromkeys(LAYERS, 0.0)
        for span_id, op, _, name, start, end in self.spans:
            layer = name.split(".", 1)[0]
            if layer in totals and op >= 0:
                totals[layer] += (end - start - _union_ns(children.get(span_id, []), start, end)) / 1e6
        return totals

    def uncovered_frac(self) -> float:
        """Share of traced op time that no layer span covers: the
        benchmark's own glue, or a layer that is not wrapped."""
        children = self._children()
        total = uncovered = 0
        for span_id, op, _, name, start, end in self.spans:
            if name.startswith("op.") and op >= 0:
                total += end - start
                uncovered += end - start - _union_ns(children.get(span_id, []), start, end)
        return uncovered / total if total else 0.0

    def overhead_frac(self) -> float:
        """Median traced op latency over median untraced op latency,
        minus one; the two samples interleave op by op."""
        traced, plain = self.latencies[True], self.latencies[False]
        if not traced or not plain:
            return 0.0
        return statistics.median(traced) / statistics.median(plain) - 1.0

    def write(self, path: str, summary: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(json.dumps({"summary": summary}) + "\n")
            for span_id, op, parent, name, start, end in self.spans:
                fh.write(json.dumps({"id": span_id, "op": op, "parent": parent, "name": name,
                                     "start_ns": start, "end_ns": end}) + "\n")


def layer_metrics(tracer: Tracer, layer: dict[str, float], cores: int) -> dict[str, float]:
    """Every per-layer metric of a traced run.  Counts and ``_ms``/``_s``
    figures are totals over the traced ops; names with ``per_``,
    ``_max`` or ``_frac`` are ratios; ``q.<query>.*`` are medians over
    that query's traced runs.  ``layer`` holds what the workload
    measured itself (session start, CPU, memory, rows changed)."""
    d = tracer.by_name()
    setup = tracer.by_name(setup=True)
    c = tracer.counts
    ops = len(tracer.traced_ops)

    def calls(*names: str) -> float:
        return float(sum(len(d.get(n, [])) for n in names))

    def total(*names: str) -> float:
        return float(sum(sum(d.get(n, [])) for n in names))

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    commits = calls("deltalog.commit")
    batches = c.get("indexer.batches_committed", 0.0)
    m = {
        "manifest.read_calls": calls("manifest.read"),
        "manifest.read_ms": total("manifest.read"),
        "checkpoints.load_ms": total("checkpoints.load"),
        "checkpoints.save_ms": total("checkpoints.save"),
        "fs.list_calls": calls("fs.list_dirs", "fs.list_files"),
        "fs.list_ms": total("fs.list_dirs", "fs.list_files"),
        "fs.entries_listed": c.get("fs.entries_listed", 0.0),
        "fs.entries_listed_per_new_folder": ratio(c.get("fs.entries_listed", 0.0), batches),
        # schema inference runs when a fingerprint first appears: in the
        # cold index of set-up, which traced runs trace apart
        "schema.infer_calls": float(len(setup.get("schema.infer", []))),
        "schema.footers_read": float(len(setup.get("schema.footer", []))),
        "schema.infer_ms": float(sum(setup.get("schema.infer", []))),
        "indexer.discover_ms": total("indexer.discover"),
        "indexer.commit_ms": total("indexer.commit"),
        "indexer.batches_committed": batches,
        "indexer.table_ms_max": max(d.get("indexer.table", [0.0])),
        "deltalog.commits": commits,
        "deltalog.commit_ms": total("deltalog.commit"),
        "deltalog.commit_retries": c.get("deltalog.commit_retries", 0.0),
        "deltalog.log_bytes_per_commit": ratio(c.get("deltalog.log_bytes", 0.0), commits),
        "log_checkpoint.writes": calls("log_checkpoint.write"),
        "log_checkpoint.write_ms": total("log_checkpoint.write"),
        "log_checkpoint.state_reads": calls("log_checkpoint.state_read"),
        "log_checkpoint.state_read_ms": total("log_checkpoint.state_read"),
        "snapshot.loads": calls("snapshot.load"),
        "snapshot.loads_per_op": ratio(calls("snapshot.load"), ops),
        "snapshot.json_commits_replayed": calls("snapshot.json_commit"),
        "snapshot.load_ms": total("snapshot.load"),
        "snapshot.read_delta_ms": total("snapshot.read_delta"),
        "writer.merge_ms": total("writer.merge"),
        "writer.files_added": c.get("writer.files_added", 0.0),
        "writer.files_removed": c.get("writer.files_removed", 0.0),
        "writer.bytes_written_per_row_changed": ratio(
            c.get("writer.bytes_added", 0.0), layer.get("writer.rows_changed", 0.0)
        ),
        "session.start_s": layer.get("session.start_s", 0.0),
        "operators.construct_ms": total("operators.construct"),
        "operators.execute_ms": total("operators.execute"),
    }
    for name, ms in tracer.self_ms().items():
        m[f"{name}.self_ms"] = ms
    for name, values in tracer.samples.items():
        m[name] = statistics.median(values)

    groups = tracer.spark_groups() if tracer.enabled else {}

    def spark_sum(key: str, where=lambda name: True) -> float:
        return float(sum(g[key] for name, g in groups.items() if name.startswith("op") and where(name)))

    op_s = sum(tracer.latencies[True])
    merges = calls("writer.merge")
    m.update({
        "operators.construct_jobs": spark_sum("jobs", lambda n: ".construct." in n),
        "writer.jobs_per_merge": ratio(spark_sum("jobs", lambda n: n.endswith(".merge")), merges),
        "spark.jobs_per_op": ratio(spark_sum("jobs"), ops),
        "spark.tasks_per_op": ratio(spark_sum("tasks"), ops),
        "spark.executor_run_s": spark_sum("run_s"),
        "spark.executor_cpu_s": spark_sum("cpu_s"),
        "spark.core_busy_frac": ratio(spark_sum("run_s"), cores * op_s),
        "spark.shuffle_write_mb": spark_sum("shuffle_write_bytes") / 2**20,
        "spark.spill_mb": spark_sum("spill_bytes") / 2**20,
        "spark.python_ms": spark_sum("python_ms"),
        "proc.cpu_s_per_op": ratio(layer.get("proc.cpu_s", 0.0), ops),
        "proc.py_rss_mb": layer.get("proc.py_rss_mb", 0.0),
        "proc.jvm_rss_mb": layer.get("proc.jvm_rss_mb", 0.0),
        "trace.spans": float(sum(1 for span in tracer.spans if span[1] >= 0)),
        "trace.overhead_frac": tracer.overhead_frac(),
        "trace.uncovered_frac": tracer.uncovered_frac(),
    })
    return m
