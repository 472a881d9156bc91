"""In-memory spans around the program's layer entry points, plus the
Spark status-store reader that attributes jobs, stages and tasks to ops.

Nothing in the program is edited: `install()` wraps the public entry
points from here and `uninstall()` puts the originals back.  Spans are
only recorded while a tracer is enabled; the end-to-end runs leave it
disabled so they measure the program alone.
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time
from contextlib import contextmanager

MATERIALIZE = ("cache", "persist", "localCheckpoint", "checkpoint")


class RetentionError(RuntimeError):
    """A job or stage of an op was evicted from Spark's status store
    before it was read, so its counts would silently truncate."""


class Tracer:
    """Spans are (id, name, start, end, parent id, op id).  One client
    runs one op at a time, so spans opened on helper threads (pipeline
    stages, overlap seams) are parented to the innermost span open on
    the op's own thread."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._op_thread_stack: list[int] | None = None
        self.op: int | None = None
        self.events: list[tuple[str, int | None, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def op_scope(self, op_id: int):
        self.op = op_id
        self._op_thread_stack = self._stack()
        try:
            yield
        finally:
            self.op = None
            self._op_thread_stack = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        st = self._stack()
        if st:
            parent = st[-1]
        elif self._op_thread_stack:
            parent = self._op_thread_stack[-1]
        else:
            parent = None
        rec = {"id": next(self._ids), "name": name, "parent": parent,
               "op": self.op, "start": time.perf_counter(), "end": None}
        st.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            st.pop()
            self.spans.append(rec)

    def note(self, kind: str, value: object) -> None:
        """A point event (an error, a pipeline run's results) tied to the op."""
        if self.enabled:
            self.events.append((kind, self.op, value))


def _wrap(tracer: Tracer, name: str, fn, after=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        with tracer.span(name) as rec:
            try:
                out = fn(*args, **kwargs)
            except Exception as exc:
                tracer.note(f"{name}.error", type(exc).__name__)
                raise
        if after is not None:
            after(args, out, rec)
        return out

    return wrapper


class Patches:
    """Layer entry points wrapped for one tracer, undone by `uninstall`."""

    def __init__(self) -> None:
        self._undo: list[tuple[object, str, object]] = []

    def set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()


def install(tracer: Tracer) -> Patches:
    from pyspark.sql.classic.dataframe import DataFrame

    import artemia_airflow_spark.catalog as catalog
    from artemia_airflow_spark import schedule
    from artemia_airflow_spark.ledger import RunLedger
    from artemia_airflow_spark.pipeline import Pipeline
    from artemia_airflow_spark.sources.txtable import TxTable

    p = Patches()
    # `scan` is imported by name into most operator modules, so every
    # module-level alias of the original function is rebound too.
    scan = catalog.scan
    wrapped_scan = _wrap(tracer, "catalog.scan", scan)
    for mod in list(sys.modules.values()):
        if (getattr(mod, "__name__", "").startswith("artemia_airflow_spark")
                and mod.__dict__.get("scan") is scan):
            p.set(mod, "scan", wrapped_scan)
    for m in MATERIALIZE:
        p.set(DataFrame, m, _wrap(tracer, f"materialize.{m}", DataFrame.__dict__[m]))

    def pipeline_after(args, results, rec):
        pipe = args[0]
        upstream = {t: [u.task_id for u in st.upstream] for t, st in pipe.stages.items()}
        tracer.note("pipeline.run", {
            "run_s": rec["end"] - rec["start"], "waves": pipe.last_run_waves,
            "upstream": upstream,
            "stages": {t: (r.duration_s, r.attempts) for t, r in results.items()}})

    p.set(Pipeline, "run",
          _wrap(tracer, "pipeline.run", Pipeline.__dict__["run"], pipeline_after))
    p.set(schedule, "backfill", _wrap(tracer, "schedule.backfill", schedule.backfill))
    p.set(RunLedger, "record", _wrap(tracer, "ledger.record", RunLedger.__dict__["record"]))
    for m in ("runs_report", "health", "last_run_states"):
        p.set(RunLedger, m, _wrap(tracer, "ledger.read", RunLedger.__dict__[m]))
    for m in ("merge", "append", "snapshot", "compact", "changes"):
        p.set(TxTable, m, _wrap(tracer, f"txtable.{m}", TxTable.__dict__[m]))
    create = TxTable.__dict__["create"].__func__
    p.set(TxTable, "create", staticmethod(_wrap(tracer, "txtable.create", create)))
    return p


# -- Spark status store -------------------------------------------------

def next_job_id(sc) -> int:
    """The id the scheduler gives the next job (ids are dense)."""
    return int(sc._jsc.sc().dagScheduler().nextJobId())


def drain_listener(sc) -> None:
    """Block until the status store has seen every event posted so far."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def read_jobs(sc, first: int, end: int, group: str) -> dict:
    """Jobs [first, end) and their executed stages, read from the status
    store.  Raises RetentionError if any of them is no longer there."""
    store = sc._jsc.sc().statusStore()
    out = dict(jobs=0, jobs_ungrouped=0, stages=0, tasks=0, tasks_failed=0,
               shuffle_write_mb=0.0, shuffle_read_mb=0.0, spill_mb=0.0,
               executor_run_s=0.0, executor_cpu_s=0.0)
    stage_ids: set[int] = set()
    for jid in range(first, end):
        try:
            job = store.job(jid)
        except Exception as exc:  # py4j wraps NoSuchElementException
            raise RetentionError(
                f"job {jid} of op group {group!r} is missing from the status "
                f"store (spark.ui.retainedJobs too small?): {exc}") from None
        out["jobs"] += 1
        if not job.jobGroup().isDefined():
            out["jobs_ungrouped"] += 1
        it = job.stageIds().iterator()
        while it.hasNext():
            stage_ids.add(int(it.next()))
    mb = 1.0 / (1 << 20)
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Exception as exc:
            raise RetentionError(
                f"stage {sid} of op group {group!r} is missing from the status "
                f"store (spark.ui.retainedStages too small?): {exc}") from None
        if st.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += int(st.numCompleteTasks()) + int(st.numFailedTasks())
        out["tasks_failed"] += int(st.numFailedTasks())
        out["shuffle_write_mb"] += st.shuffleWriteBytes() * mb
        out["shuffle_read_mb"] += (st.shuffleLocalBytesRead()
                                   + st.shuffleRemoteBytesRead()) * mb
        out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) * mb
        out["executor_run_s"] += st.executorRunTime() / 1e3
        out["executor_cpu_s"] += st.executorCpuTime() / 1e9
    return out


def jvm_gc_s(sc) -> float:
    """Collection time of the driver JVM so far.  In local mode the tasks
    run in that JVM too, so this covers the stages' GC time (the status
    store's per-task jvmGcTime) and the collections between tasks."""
    mf = sc._jvm.java.lang.management.ManagementFactory
    return sum(gc.getCollectionTime() for gc in mf.getGarbageCollectorMXBeans()) / 1e3


# -- self time ----------------------------------------------------------

def _covered(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per layer: span durations minus the part covered by child spans."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], [])]
        kids = [(a, b) for a, b in kids if b > a]
        own = (s["end"] - s["start"]) - _covered(kids)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def outermost(spans: list[dict], prefix: str) -> list[dict]:
    """Spans named `prefix*` with no ancestor of the same family (so
    `cache()` calling `persist()` counts once)."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        if not s["name"].startswith(prefix):
            continue
        p = by_id.get(s["parent"])
        while p is not None and not p["name"].startswith(prefix):
            p = by_id.get(p["parent"])
        if p is None:
            out.append(s)
    return out
