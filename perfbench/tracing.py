"""Traced mode: per-layer spans recorded from the benchmark's own files.

No library code is edited. :class:`Tracer` replaces the public functions
of each layer *where ``pipeline.py`` looks them up* (module globals of
``data_validation_engine_spark.pipeline``, the ``files`` module that
``process_landing`` imports from, and three class methods) with wrappers
that time each call on a per-thread span stack.

Attribution rules:

- A wrapped call makes its layer the thread's *current* layer and sets
  the Spark job group to the layer name. The layer stays current (and the
  job group stays set) after the call returns, until the next wrapped
  call on that thread.
- Spark calls that ``run_pipeline`` issues inline, outside any wrapped
  call (parquet/JSON writes, parquet reads, ``first``/``collect``,
  ``localCheckpoint``), are charged to the thread's current layer. Lazily built plans therefore land on the
  layer whose action executes them: the rule steps of ``corpus_dedup``
  are mostly charged to ``sinks.entities``, whose final writes run them.
- A span's self time is its duration minus the time of its child spans.

After each traced pass :meth:`Tracer.spark_metrics` reads job and stage
metrics from Spark's status store (works with ``spark.ui.enabled=false``)
and groups them by job group, i.e. by layer.
"""

from __future__ import annotations

import functools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = (
    "dischema",
    "files",
    "sources",
    "contract",
    "sinks.errors",
    "steps",
    "sinks.entities",
    "sinks.report",
    "sinks.audit",
)
LAYER_METRICS = ("busy_s", "calls", "jobs", "executor_s", "shuffle_bytes", "spill_bytes")
# step operations reported as steps.<operation>.busy_s
STEP_OPERATIONS = (
    "left_join",
    "group_by",
    "sync_filters",
    "normalize_text",
    "quality_filters",
    "dedup_exact",
    "dedup_ngram_pairs",
)


def _targets():
    """(layer, owner, attribute) for every wrapped public function."""
    from data_validation_engine_spark import files, pipeline
    from data_validation_engine_spark.dischema import Dischema
    from data_validation_engine_spark.sinks.audit import AuditLog
    from data_validation_engine_spark.steps.engine import StepEngine

    return [
        ("dischema", pipeline, "load_dischema"),
        ("dischema", Dischema, "resolve"),
        ("files", files, "discover_submissions"),
        ("files", files, "move_file"),
        ("sources", pipeline, "read_submitted_file"),
        ("contract", pipeline, "add_record_index"),
        ("contract", pipeline, "apply_contract"),
        ("sinks.errors", pipeline, "write_messages_jsonl"),
        ("sinks.errors", pipeline, "write_literal_messages_jsonl"),
        ("steps", StepEngine, "evaluate"),
        ("steps", pipeline, "apply_sync_filters"),
        ("sinks.entities", pipeline, "reject_records_by_origin"),
        ("sinks.entities", pipeline, "reject_records"),
        ("sinks.report", pipeline, "write_error_report"),
        ("sinks.report", pipeline, "error_aggregates"),
        ("sinks.audit", AuditLog, "append"),
    ]


def _inline_actions():
    """Spark calls ``run_pipeline`` issues outside the wrapped functions:
    writes and reads of its checkpoints, ``first``/``collect``, and the
    lazy ``localCheckpoint`` (which plans the frame it checkpoints)."""
    from pyspark.sql import DataFrameReader, DataFrameWriter

    try:  # the concrete class behind pyspark.sql.DataFrame (PySpark >= 4)
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    return [
        (DataFrameWriter, "parquet"),
        (DataFrameWriter, "json"),
        (DataFrameReader, "parquet"),
        (DataFrame, "first"),
        (DataFrame, "collect"),
        (DataFrame, "localCheckpoint"),
    ]


def _operation(name: str, args, kwargs) -> str | None:
    if name == "apply_sync_filters":
        return "sync_filters"
    if name == "evaluate":
        config = kwargs.get("config", args[2] if len(args) > 2 else None)
        return getattr(config, "operation", type(config).__name__)
    return None


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        self._epoch = time.perf_counter()
        self._last_job = -1

    # -- wrappers ------------------------------------------------------------

    def install(self) -> None:
        for layer, owner, attr in _targets():
            self._patch(owner, attr, self._call_wrapper(layer, attr, getattr(owner, attr)))
        for owner, attr in _inline_actions():
            self._patch(owner, attr, self._inline_wrapper(attr, getattr(owner, attr)))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._undo):
            setattr(owner, attr, original)
        self._undo.clear()

    def _patch(self, owner, attr, wrapper) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    def _call_wrapper(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer._span(layer, name, _operation(name, args, kwargs), True):
                return fn(*args, **kwargs)

        return wrapper

    def _inline_wrapper(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            current = getattr(tracer._local, "current", None)
            if not tracer.enabled or tracer._stack() or current is None:
                return fn(*args, **kwargs)
            with tracer._span(current, f"inline.{name}", None, False):
                return fn(*args, **kwargs)

        return wrapper

    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _set_layer(self, layer: str | None) -> None:
        self._local.current = layer
        self.sc.setLocalProperty("spark.jobGroup.id", layer)

    @contextmanager
    def _span(self, layer: str, name: str, op: str | None, call: bool):
        stack = self._stack()
        frame = {"layer": layer, "children": 0.0}
        stack.append(frame)
        self._set_layer(layer)
        start = time.perf_counter()
        try:
            yield
        finally:
            duration = time.perf_counter() - start
            stack.pop()
            if stack:  # back to the caller's layer; a top-level span stays current
                stack[-1]["children"] += duration
                self._set_layer(stack[-1]["layer"])
            span = {
                "thread": threading.get_ident(),
                "layer": layer,
                "name": name,
                "op": op,
                "call": call,
                "start_s": round(start - self._epoch, 6),
                "duration_s": round(duration, 6),
                "self_s": round(duration - frame["children"], 6),
            }
            with self._lock:
                self.spans.append(span)

    # -- passes --------------------------------------------------------------

    @contextmanager
    def traced_pass(self):
        """Enable spans for one pass; yields the list its spans land in."""
        self._last_job = self._max_job_id()
        first = len(self.spans)
        self._local.current = None
        self.enabled = True
        collected: list[dict] = []
        try:
            yield collected
        finally:
            self.enabled = False
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._local.current = None
            collected.extend(self.spans[first:])

    def _store(self):
        return self.sc._jsc.sc().statusStore()

    def _max_job_id(self) -> int:
        jobs = self._store().jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def spark_metrics(self) -> dict:
        """Job/stage metrics of the jobs since the pass began, by job group."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = self._store()
        jobs = store.jobsList(None)
        seen_stages: set[int] = set()
        by_group: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= self._last_job:
                continue
            group = job.jobGroup()
            name = group.get() if group.isDefined() else "unattributed"
            acc = by_group[name]
            acc["jobs"] += 1
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                stage = store.lastStageAttempt(sid)
                if stage.status().toString() == "SKIPPED":
                    continue
                acc["tasks"] += stage.numTasks()
                acc["executor_s"] += stage.executorRunTime() / 1e3
                acc["executor_cpu_s"] += stage.executorCpuTime() / 1e9
                acc["input_bytes"] += stage.inputBytes()
                acc["shuffle_bytes"] += stage.shuffleWriteBytes()
                acc["spill_bytes"] += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
        return {group: dict(acc) for group, acc in by_group.items()}
