"""Spans around the program's layers, installed from the benchmark.

``Tracer.install`` wraps the public functions of each layer of
``getl_spark`` in place: every block family's ``resolve``, the plan
resolver and executor, the file registries, ``ManagedTable.upsert_all``,
the public functions of ``functions.stats``/``text``/``search`` and the
``common.scale`` machinery. A wrapper records a span (layer, start,
end, parent) in memory and sets a Spark job group naming the span, so
each job in the event log can be traced back to the innermost span that
started it. ``report`` rolls spans, the event log and ``/proc``
readings up into per-lift per-layer metrics.
"""

from __future__ import annotations

import functools
import glob
import os
import sys
import threading
import time
from dataclasses import dataclass, field
from typing import Callable, List, Optional

import pyarrow.parquet as pq

import eventlog

GROUP_PREFIX = "perfbench:"
# the bucket exchange of grouped_prefix_scan: repartition(n, "__gps_pid")
PREFIX_SCAN_EXCHANGE = ("hashpartitioning(__gps_pid", "REPARTITION_BY_NUM")


@dataclass
class Span:
    span_id: int
    layer: str
    name: str
    parent: Optional[int]
    lift: int
    start: float
    end: float = 0.0
    children_s: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.children_s


@dataclass
class Lift:
    index: int
    timed: bool
    start: float
    end: float = 0.0
    rewritten: set = field(default_factory=set)
    registries: set = field(default_factory=set)
    created: dict = field(default_factory=dict)
    control_rows: int = 0


def _layer_of_block(module: str) -> str:
    return module.rsplit(".", 2)[-2]  # getl_spark.<layer>.entrypoint


class Tracer:
    def __init__(self, eventlog_dir: str) -> None:
        self.eventlog_dir = eventlog_dir
        os.makedirs(eventlog_dir, exist_ok=True)
        self.spans: List[Span] = []
        self.lifts: List[Lift] = []
        self._stack = threading.local()
        self._lock = threading.Lock()
        self.sc = None

    def spark_conf(self) -> dict:
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + self.eventlog_dir,
            "spark.eventLog.compress": "false",
            # one plain file per application
            "spark.eventLog.rolling.enabled": "false",
        }

    # --------------------------------------------------------------- spans
    def _frames(self) -> list:
        if not hasattr(self._stack, "frames"):
            self._stack.frames = []
        return self._stack.frames

    def _open(self, layer: str, name: str) -> Span:
        frames = self._frames()
        with self._lock:
            span = Span(
                len(self.spans),
                layer,
                name,
                frames[-1].span_id if frames else None,
                self.lifts[-1].index if self.lifts else -1,
                time.time(),
            )
            self.spans.append(span)
        frames.append(span)
        self.sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{span.span_id}")
        return span

    def _close(self, span: Span) -> None:
        span.end = time.time()
        frames = self._frames()
        frames.pop()
        if frames:
            frames[-1].children_s += span.end - span.start
        outer = f"{GROUP_PREFIX}{frames[-1].span_id}" if frames else None
        self.sc.setLocalProperty("spark.jobGroup.id", outer)

    def wrap(self, fn: Callable, layer: str, name: str, after: Optional[Callable] = None) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self._open(layer, name)
            try:
                result = fn(*args, **kwargs)
            finally:
                self._close(span)
            if after is not None:
                # bookkeeping is a child span of its own, so it is
                # subtracted from the caller's self time
                extra = self._open("trace", name)
                try:
                    after(span, args, result)
                finally:
                    self._close(extra)
            return result

        return traced

    # ------------------------------------------------------------- install
    def install(self, spark) -> None:
        self.sc = spark.sparkContext
        from getl_spark.common import scale, tables
        from getl_spark.custom import entrypoint as custom_ep
        from getl_spark.functions import search, stats, text
        from getl_spark.operators import entrypoint as operators_ep
        from getl_spark.plans import executor
        from getl_spark.registry import base, date_prefix_scan, delta_diff, full_scan
        from getl_spark.registry import entrypoint as registry_ep
        from getl_spark.sinks import entrypoint as sinks_ep
        from getl_spark.sources import entrypoint as sources_ep

        # the package re-exports the lift function under the module's name
        lift_mod = sys.modules["getl_spark.lift"]
        lift_mod.resolve_definition = self.wrap(lift_mod.resolve_definition, "plans.resolve", "resolve_definition")
        for method in ("execute", "init_file_registries"):
            setattr(executor.Executor, method, self.wrap(getattr(executor.Executor, method), "plans.executor", method))
        after = {sources_ep: self._count_input_files}
        for mod in (sources_ep, operators_ep, sinks_ep, custom_ep, registry_ep):
            layer = _layer_of_block(mod.__name__)
            if layer == "registry":
                layer = "registry.load"
            mod.resolve = self.wrap(mod.resolve, layer, "resolve", after.get(mod))
        for cls in (full_scan.FullScan, date_prefix_scan.DatePrefixScan, delta_diff.DeltaDiff):
            cls.load = self.wrap(cls.load, "registry.load", cls.__name__ + ".load", self._note_registry)
        for cls in (base.ControlTableRegistry, delta_diff.DeltaDiff):
            if "update" in vars(cls):
                cls.update = self.wrap(cls.update, "registry.update", cls.__name__ + ".update")
        tables.ManagedTable.upsert_all = self.wrap(tables.ManagedTable.upsert_all, "tables.upsert", "upsert_all")
        tables.ManagedTable._rewrite = self._note_rewrite(tables.ManagedTable._rewrite)
        for mod, layer in ((stats, "functions.stats"), (text, "functions.text"), (search, "functions.search")):
            for name, fn in list(vars(mod).items()):
                if callable(fn) and not name.startswith("_") and getattr(fn, "__module__", "") == mod.__name__:
                    self._replace_everywhere(fn, self.wrap(fn, layer, name))
        self._replace_everywhere(scale.grouped_prefix_scan, self.wrap(scale.grouped_prefix_scan, "scale.prefix_scan", "grouped_prefix_scan"))
        self._replace_everywhere(scale.pin, self.wrap(scale.pin, "scale.pin", "pin"))

    @staticmethod
    def _replace_everywhere(original: Callable, replacement: Callable) -> None:
        """Rebind ``original`` in every loaded ``getl_spark`` module,
        including modules that imported it by name."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("getl_spark"):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, attr, replacement)

    def _count_input_files(self, span: Span, _args, result) -> None:
        files = getattr(result, "inputFiles", None)
        span.counts["files"] = len(files()) if files else 0

    def _note_registry(self, span: Span, args, _result) -> None:
        self.lifts[-1].registries.add(args[0].registry_path)

    def _note_rewrite(self, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def noted(table, df):
            self.lifts[-1].rewritten.add(table.path)
            return fn(table, df)

        return noted

    # --------------------------------------------------------------- lifts
    def begin_lift(self, timed: bool) -> None:
        self.lifts.append(Lift(len(self.lifts), timed, time.time()))

    def end_lift(self, created: dict) -> None:
        lift = self.lifts[-1]
        lift.end = time.time()
        lift.created = created
        for path in lift.registries:
            files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
            lift.control_rows += sum(pq.ParquetFile(f).metadata.num_rows for f in files)

    # -------------------------------------------------------------- report
    def _ancestry(self, span_id: Optional[int]) -> list:
        out = []
        while span_id is not None:
            span = self.spans[span_id]
            out.append(span.layer)
            span_id = span.parent
        return out

    def per_lift(self, log: eventlog.EventLog, sink_paths: list) -> List[dict]:
        """Per-layer figures for each timed lift."""
        jobs_by_lift: dict = {}
        for job in log.jobs.values():
            span_id = None
            if job.group and job.group.startswith(GROUP_PREFIX):
                span_id = int(job.group[len(GROUP_PREFIX):])
                lift_idx = self.spans[span_id].lift
            else:  # started outside any span (an output collect, another thread): place it by time
                lift_idx = next(
                    (l.index for l in self.lifts if l.start * 1e3 <= job.submit_ms <= l.end * 1e3), -1
                )
            jobs_by_lift.setdefault(lift_idx, []).append((job.job_id, self._ancestry(span_id)))
        out = []
        for lift in self.lifts:
            if not lift.timed:
                continue
            spans = [s for s in self.spans if s.lift == lift.index]
            jobs = jobs_by_lift.get(lift.index, [])

            def self_s(layer):
                return sum(s.self_s for s in spans if s.layer == layer)

            def total_s(layer):
                return sum(s.end - s.start for s in spans if s.layer == layer)

            def calls(layer):
                return sum(1 for s in spans if s.layer == layer)

            def jobs_under(prefix):
                return sum(1 for _, anc in jobs if any(a.startswith(prefix) for a in anc))

            def created_under(paths):
                return [
                    st[0] for p, st in lift.created.items()
                    if any(p.startswith(root.rstrip("/") + "/") for root in paths)
                ]

            sink_files = [
                p for p in lift.created
                if any(p.startswith(r.rstrip("/") + "/") for r in sink_paths)
                and p.endswith(".parquet")
            ]
            row = {
                "plans.resolve_s": self_s("plans.resolve"),
                "plans.executor_self_s": self_s("plans.executor"),
                "sources.load_s": self_s("sources"),
                "sources.files": sum(s.counts.get("files", 0) for s in spans if s.layer == "sources"),
                "registry.load_s": total_s("registry.load"),
                "registry.update_s": total_s("registry.update"),
                "registry.control_rows": lift.control_rows,
                "operators.build_s": self_s("operators"),
                "operators.jobs": jobs_under("operators"),
                "functions.stats_s": self_s("functions.stats"),
                "functions.text_s": self_s("functions.text"),
                "functions.search_s": self_s("functions.search"),
                "functions.jobs": jobs_under("functions."),
                "scale.prefix_scan_calls": calls("scale.prefix_scan"),
                "scale.prefix_scan_s": self_s("scale.prefix_scan"),
                "scale.pin_calls": calls("scale.pin"),
                "scale.pin_s": self_s("scale.pin"),
                "scale.exchange_skew": eventlog.exchange_skew(log, PREFIX_SCAN_EXCHANGE, [j for j, _ in jobs]) or 0.0,
                "custom.sql_s": self_s("custom"),
                "sinks.write_s": self_s("sinks"),
                "sinks.files": len(sink_files),
                "sinks.written_mb": sum(created_under(sink_paths)) / 1e6,
                "tables.upsert_s": total_s("tables.upsert"),
                "tables.rewritten_mb": sum(created_under(lift.rewritten)) / 1e6,
            }
            row.update(eventlog.rollup(log, [j for j, _ in jobs]))
            out.append(row)
        return out

    def report(self, rounds: list, session_s: float, summarise: Callable, sink_paths: list) -> dict:
        logs = sorted(p for p in glob.glob(os.path.join(self.eventlog_dir, "**"), recursive=True) if os.path.isfile(p))
        log = eventlog.parse(line for path in logs for line in open(path, encoding="utf-8"))
        rows = self.per_lift(log, sink_paths)
        width = len(rounds[0])
        # the same shape as the timed rounds
        shaped = [
            [{**rows[r * width + i], **rounds[r][i]} for i in range(width)]
            for r in range(len(rounds))
        ]
        metrics = {"session.start_s": {"value": session_s, "unit": "s"}}
        for key in rows[0]:
            metrics[key] = {"value": summarise(shaped, key), "unit": UNITS[key]}
        for key, source in (
            ("trace.lift_s", "lift_s"),
            ("proc.python_cpu_s", "python_cpu"),
            ("proc.jvm_cpu_s", "jvm_cpu"),
            ("proc.worker_cpu_s", "worker_cpu"),
            ("proc.rss_mb", "rss_mb"),
        ):
            metrics[key] = {"value": summarise(shaped, source), "unit": UNITS[key]}
        return metrics


UNITS = {
    "plans.resolve_s": "s",
    "plans.executor_self_s": "s",
    "sources.load_s": "s",
    "sources.files": "count",
    "registry.load_s": "s",
    "registry.update_s": "s",
    "registry.control_rows": "count",
    "operators.build_s": "s",
    "operators.jobs": "count",
    "functions.stats_s": "s",
    "functions.text_s": "s",
    "functions.search_s": "s",
    "functions.jobs": "count",
    "scale.prefix_scan_calls": "count",
    "scale.prefix_scan_s": "s",
    "scale.pin_calls": "count",
    "scale.pin_s": "s",
    "scale.exchange_skew": "ratio",
    "custom.sql_s": "s",
    "sinks.write_s": "s",
    "sinks.files": "count",
    "sinks.written_mb": "MB",
    "tables.upsert_s": "s",
    "tables.rewritten_mb": "MB",
    "trace.lift_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.task_skew": "ratio",
    "spark.peak_exec_mem_mb": "MB",
    "proc.python_cpu_s": "s",
    "proc.jvm_cpu_s": "s",
    "proc.worker_cpu_s": "s",
    "proc.rss_mb": "MB",
}
