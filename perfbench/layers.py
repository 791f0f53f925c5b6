"""Tracing for the traced run: spans around each layer call, plus Spark's
own accounting per op.

Nothing in the program is edited.  Spans are recorded from the
benchmark's side of each layer boundary:

* ``tables``     — ``DataFrameReader.parquet`` (what ``tables.t`` calls;
  query modules import ``t`` by name, so wrapping ``tables.t`` would miss
  calls)
* ``csv_ingest`` — the ``sources.csv_ingest`` module attributes that
  ``ingest_csv`` resolves at call time, and ``REFRESH TABLE`` statements
* ``catalog``    — the ``sources.catalog`` functions ``api`` calls
* ``exec``       — Spark jobs, read back from the status store by job tag
  (the store is live with ``spark.ui.enabled=false``)
* ``catalyst``   — the analysis / optimization / planning phases of every
  ``QueryExecution`` an op ran, from a query-execution listener

Spans live in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - covered(children.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


class Tracer:
    """Span recorder plus the wrappers that feed it."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op = ""
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def wrap(self, owner, attr: str, name, around=nullcontext) -> None:
        """Replace ``owner.attr`` with a spanned call until ``unwrap_all``.
        ``name`` is a span name, or a function of the call's arguments
        returning one (None: no span); ``around()`` is entered too."""
        original = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            if label is None:
                return original(*args, **kwargs)
            with tracer.span(label), around():
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, original))

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s, self_s in zip(self.spans, self_times(self.spans)):
                f.write(json.dumps({**asdict(s), "self_s": self_s}) + "\n")


def install_layer_wrappers(tracer: Tracer, acct: "SparkAccounting") -> None:
    """Wrap every layer boundary the benchmark measures."""
    from pyspark.sql import SparkSession
    from pyspark.sql.readwriter import DataFrameReader

    from data_warehouse_hive_spark.sources import catalog, csv_ingest

    tracer.wrap(DataFrameReader, "parquet", "tables.parquet_read",
                around=lambda: acct.phase("tables"))
    tracer.wrap(csv_ingest, "sniff_delimiter", "csv_ingest.sniff")
    tracer.wrap(csv_ingest, "infer_csv_schema", "csv_ingest.infer")
    tracer.wrap(csv_ingest, "validate_against_schema", "csv_ingest.validate")
    tracer.wrap(csv_ingest, "create_external_csv_table", "csv_ingest.register")
    tracer.wrap(
        SparkSession, "sql",
        lambda self, text, *a, **k: (
            "csv_ingest.refresh" if text.lstrip().upper().startswith("REFRESH TABLE")
            else None
        ),
    )
    tracer.wrap(catalog, "table_info", "catalog.table_info")
    tracer.wrap(catalog, "show_tables", "catalog.list_tables")
    tracer.wrap(catalog, "drop_table", "catalog.drop_table")


# ---------------------------------------------------------------------------
# Spark-side accounting
# ---------------------------------------------------------------------------

STAGE_FIELDS = (  # what end_op sums per phase, besides jobs and job_ms
    "run_ms", "cpu_ms", "gc_ms", "input_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "task_failures", "tasks", "stages",
)


def _phase_ms(qe) -> dict[str, int]:
    phases = qe.tracker().phases()
    return {
        k: int(phases.apply(k).durationMs())
        for k in ("analysis", "optimization", "planning")
        if phases.contains(k)
    }


class SparkAccounting:
    """Per-op job tags, status-store reads and catalyst phase capture."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._conv = self.sc._gateway.jvm.scala.jdk.javaapi.CollectionConverters
        self._seq = 0
        self.op = ""
        self._tag: str | None = None
        self._phases: list[dict[str, int]] = []
        self._lock = threading.Lock()
        self._listener = None

    # -- catalyst ----------------------------------------------------------
    def start_listener(self) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self.sc._gateway)
        acct = self

        class Listener:
            def onSuccess(self, func_name, qe, duration_ns):
                acct._record_phases(qe)

            def onFailure(self, func_name, qe, exception):
                acct._record_phases(qe)

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        self._listener = Listener()
        self.spark._jsparkSession.listenerManager().register(self._listener)

    def stop_listener(self) -> None:
        # The callback server itself is left to die with the process:
        # shutting it down explicitly can block forever.
        if self._listener is not None:
            self.spark._jsparkSession.listenerManager().unregister(self._listener)
            self._listener = None

    def _record_phases(self, qe) -> None:
        got = _phase_ms(qe)
        with self._lock:
            self._phases.append(got)

    @staticmethod
    def df_phases(df) -> dict[str, int]:
        """Phases already run on ``df``'s own QueryExecution (its analysis
        happens eagerly, inside the query's build)."""
        return _phase_ms(df._jdf.queryExecution())

    # -- job tags ----------------------------------------------------------
    def begin_op(self) -> str:
        """Start a traced op; returns its id (its job-tag prefix)."""
        self._seq += 1
        self.op = f"pb{self._seq}"
        with self._lock:
            self._phases.clear()
        return self.op

    def _set_tag(self, tag: str | None) -> None:
        if self._tag is not None:
            self.sc.removeJobTag(self._tag)
        if tag is not None:
            self.sc.addJobTag(tag)
        self._tag = tag

    @contextmanager
    def phase(self, phase: str):
        """Tag every job launched inside the block ``<op>.<phase>``."""
        previous = self._tag
        self._set_tag(f"{self.op}.{phase}")
        try:
            yield
        finally:
            self._set_tag(previous)

    def end_op(self, phases: list[str]) -> dict:
        """Drain the listener bus, then sum the current op's jobs per phase."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        tracker = self._jsc.statusTracker()
        out: dict = {}
        for phase in phases:
            ids = list(tracker.getJobIdsForTag(f"{self.op}.{phase}"))
            acc = dict.fromkeys(STAGE_FIELDS, 0)
            acc["jobs"] = len(ids)
            acc["job_ms"] = 0
            for job_id in ids:
                job = store.job(job_id)
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    acc["job_ms"] += done.get().getTime() - sub.get().getTime()
                for stage_id in self._conv.asJava(job.stageIds()):
                    self._add_stage(store, stage_id, acc)
            out[phase] = acc
        with self._lock:
            out["catalyst"] = list(self._phases)
            self._phases.clear()
        return out

    @staticmethod
    def _add_stage(store, stage_id: int, acc: dict) -> None:
        try:
            sd = store.lastStageAttempt(stage_id)
        except Exception:  # noqa: BLE001 — skipped stages have no attempt
            return
        if str(sd.status()) == "SKIPPED":
            return
        acc["stages"] += 1
        acc["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
        acc["task_failures"] += sd.numFailedTasks()
        acc["run_ms"] += sd.executorRunTime()
        acc["cpu_ms"] += sd.executorCpuTime() / 1e6
        acc["gc_ms"] += sd.jvmGcTime()
        acc["input_bytes"] += sd.inputBytes()
        acc["shuffle_read_bytes"] += sd.shuffleReadBytes()
        acc["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        acc["spill_bytes"] += sd.diskBytesSpilled()
