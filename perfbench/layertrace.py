"""Per-layer tracing for the benchmark's traced runs.

Spans are recorded from the benchmark's side only: every public function
a workload reaches is wrapped where it is looked up — in its defining
module and at each import site inside the program (``monitor`` imports
``prepare`` / ``monitoring_run`` / ``append_metrics`` by name,
``pipeline`` imports the quality and drift functions by name) — so calls
the program makes into another layer are traced too. No program file
changes.

Each span tags the Spark jobs its thread launches with the job group
``bench:<layer>:<span id>`` and restores the caller's group on exit, so
a job is charged to the innermost layer whose call triggered it. Spark
is lazy: the first action inside a call also pays for every uncached
transformation upstream of it. After the session stops, the event log is
read to charge tasks, job time and shuffle bytes to layers.
"""

from __future__ import annotations

import collections
import functools
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass

GROUP_KEY = "spark.jobGroup.id"
GROUP_PREFIX = "bench:"


@dataclass
class LayerStats:
    calls: int = 0
    wall_s: float = 0.0
    self_s: float = 0.0
    jobs: int = 0
    job_s: float = 0.0
    shuffle_bytes: int = 0


@dataclass
class _Frame:
    layer: str
    start: float
    child_s: float = 0.0


class Tracer:
    """Wraps layer entry points; records spans while ``enabled``."""

    def __init__(self, sc, layers: list[str]):
        self._sc = sc
        self.enabled = False
        self.stats = {name: LayerStats() for name in layers}
        self.top_level_s = 0.0  # summed spans that had no traced parent
        self.overhead_s = 0.0
        self.counters: collections.Counter = collections.Counter()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[_Frame]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def span(self, layer: str, fn):
        """``fn`` wrapped in a span of ``layer`` (a pass-through while
        tracing is off)."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            t0 = time.perf_counter()
            stack = self._stack()
            prev_group = self._sc.getLocalProperty(GROUP_KEY)
            self._sc.setLocalProperty(
                GROUP_KEY, f"{GROUP_PREFIX}{layer}:{next(self._ids)}"
            )
            frame = _Frame(layer, time.perf_counter())
            stack.append(frame)
            try:
                return fn(*args, **kwargs)
            finally:
                t_end = time.perf_counter()
                stack.pop()
                self._sc.setLocalProperty(GROUP_KEY, prev_group)
                dur = t_end - frame.start
                with self._lock:
                    st = self.stats[layer]
                    st.calls += 1
                    st.wall_s += dur
                    st.self_s += dur - frame.child_s
                    if stack:
                        stack[-1].child_s += dur
                    else:
                        self.top_level_s += dur
                    self.overhead_s += (frame.start - t0) + (
                        time.perf_counter() - t_end
                    )

        return traced

    def patch(self, module, attr: str, layer: str) -> None:
        setattr(module, attr, self.span(layer, getattr(module, attr)))

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counters[name] += n


def install_layer_wrappers(tracer: Tracer) -> None:
    """Wrap every layer entry point the workloads reach, at its defining
    module and at each import site inside the program."""
    from pyspark.sql.streaming import readwriter

    from churn_model_evaluation_platform_spark.operators import (
        metrics,
        prep,
        report,
        score,
    )
    from churn_model_evaluation_platform_spark.plans import pipeline
    from churn_model_evaluation_platform_spark.sources import csv_source
    from churn_model_evaluation_platform_spark.streaming import file_stream, monitor

    sites = {
        "csv_source": [(csv_source, "read_validated_csv"), (csv_source, "write_csv")],
        "monitor": [
            (monitor, "monitoring_stream"),
            (monitor, "read_file_stream"),
            (file_stream, "read_file_stream"),
        ],
        "prep": [
            (prep, "prepare"),
            (monitor, "prepare"),
            (monitor, "validate_schema_containment"),
        ],
        "score": [(score, "score_with_logistic_weights")],
        "pipeline": [(pipeline, "monitoring_run"), (monitor, "monitoring_run")],
        "quality": [
            (pipeline, "classification_scores"),
            (pipeline, "per_label_scores"),
        ],
        "drift": [
            (pipeline, "value_drift"),
            (pipeline, "drifted_columns_count"),
            (pipeline, "assess_data_drift"),
            (pipeline, "assess_prediction_scores"),
        ],
        "metrics": [
            (metrics, "append_metrics"),
            (monitor, "append_metrics"),
            (pipeline, "with_created_at"),
            (metrics, "register_metrics_view"),
            (metrics, "latest_per_metric"),
            (metrics, "latest_metric_value"),
            (metrics, "metric_timeseries"),
        ],
        "report": [(report, "render_dashboard_html")],
    }
    for layer, entries in sites.items():
        for module, attr in entries:
            tracer.patch(module, attr, layer)

    # The routing estimate: its result says how many columns take the
    # prefix-sum drift path.
    from churn_model_evaluation_platform_spark.operators.drift import (
        WINDOWED_MAX_DISTINCT,
    )

    estimate = pipeline.estimate_distinct_counts

    def counted_estimate(*args, **kwargs):
        est = estimate(*args, **kwargs)
        if tracer.enabled:
            tracer.count(
                "drift.prefix_columns",
                sum(v > WINDOWED_MAX_DISTINCT for v in est.values()),
            )
        return est

    pipeline.estimate_distinct_counts = tracer.span("drift", counted_estimate)

    # Each micro-batch of the monitoring stream is one ``monitor`` span:
    # the per-batch function is a closure inside ``monitoring_stream``, so
    # it is wrapped where it is handed to Spark.
    fb = readwriter.DataStreamWriter.foreachBatch

    def foreach_batch(self, func):
        return fb(self, tracer.span("monitor", func))

    readwriter.DataStreamWriter.foreachBatch = foreach_batch


@dataclass
class EngineStats:
    tasks: int = 0
    task_run_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    failed_tasks: int = 0
    unattributed_jobs: int = 0


def event_log_file(log_dir: str, app_id: str) -> str:
    names = [n for n in os.listdir(log_dir) if app_id in n]
    if len(names) != 1:
        raise FileNotFoundError(f"event log for {app_id} in {log_dir}: {os.listdir(log_dir)}")
    return os.path.join(log_dir, names[0])


def charge_event_log(
    path: str,
    t_start: float,
    t_end: float,
    tracer: Tracer,
    default_layer: str | None,
) -> EngineStats:
    """Read a Spark event log and charge jobs to layers.

    Jobs whose group names a span go to that span's layer; other jobs
    submitted inside ``[t_start, t_end]`` (epoch seconds) go to
    ``default_layer`` (the stream's own planning jobs) or count as
    unattributed. Engine totals cover tasks launched in the window."""
    lo, hi = t_start * 1000.0, t_end * 1000.0
    job_layer: dict[int, str | None] = {}
    job_submit: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    eng = EngineStats()
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.startswith('{"Event":"SparkListenerJobStart"'):
                ev = json.loads(line)
                if not lo <= ev["Submission Time"] <= hi:
                    continue
                jid = ev["Job ID"]
                group = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
                if group.startswith(GROUP_PREFIX):
                    layer = group[len(GROUP_PREFIX):].split(":", 1)[0]
                else:
                    layer = default_layer
                job_layer[jid] = layer
                job_submit[jid] = ev["Submission Time"]
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif line.startswith('{"Event":"SparkListenerJobEnd"'):
                ev = json.loads(line)
                jid = ev["Job ID"]
                if jid not in job_layer:
                    continue
                layer = job_layer[jid]
                if layer is None or layer not in tracer.stats:
                    eng.unattributed_jobs += 1
                    continue
                st = tracer.stats[layer]
                st.jobs += 1
                st.job_s += (ev["Completion Time"] - job_submit[jid]) / 1000.0
            elif line.startswith('{"Event":"SparkListenerTaskEnd"'):
                ev = json.loads(line)
                info = ev["Task Info"]
                if not lo <= info["Launch Time"] <= hi:
                    continue
                m = ev.get("Task Metrics") or {}
                shuffle = (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                eng.tasks += 1
                eng.task_run_s += m.get("Executor Run Time", 0) / 1000.0
                eng.shuffle_write_bytes += shuffle
                eng.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                eng.failed_tasks += bool(info.get("Failed"))
                jid = stage_job.get(ev["Stage ID"])
                layer = job_layer.get(jid) if jid is not None else None
                if layer in tracer.stats:
                    tracer.stats[layer].shuffle_bytes += shuffle
    return eng


def jvm_gc_seconds(spark) -> float:
    """Cumulative collection time of the driver JVM's collectors (in local
    mode the driver JVM runs every task)."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0
