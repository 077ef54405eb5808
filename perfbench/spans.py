"""In-memory span recorder and Spark counters for the traced run.

Spans are recorded only from the benchmark's own files: ``Tracer.wrap``
replaces a public function or method of the engine with a wrapper that
opens a span around the original call, and ``uninstall`` puts every
original back. A span holds its name, start, end, parent span, request
id and thread; children of a span are the spans opened in the same
thread while it was open, so a span's self time is its duration minus
the time its children cover.
"""

from __future__ import annotations

import contextlib
import functools
import re
import threading
import time
from dataclasses import dataclass, field

JOB_DESCRIPTION = "spark.job.description"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    rid: str | None = None
    thread: int = 0
    error: str | None = None
    attrs: dict = field(default_factory=dict)
    child_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._sc = None
        # time spent in the tracer's own bookkeeping, all threads
        self.overhead_s = 0.0

    def attach(self, spark) -> None:
        """Label Spark jobs with the innermost open span's name (the
        thread-local job description), so jobs can be counted per
        layer even when requests run concurrently."""
        self._sc = spark.sparkContext

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def add_overhead(self, seconds: float) -> None:
        with self._lock:
            self.overhead_s += seconds

    @contextlib.contextmanager
    def span(self, name: str, rid: str | None = None, **attrs):
        t_in = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        if rid is None and parent is not None:
            rid = self.spans[parent].rid
        sp = Span(name, t_in, parent=parent, rid=rid,
                  thread=threading.get_ident(), attrs=attrs)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(sp)
        stack.append(idx)
        sc, prev = self._sc, None
        if sc is not None:
            prev = sc.getLocalProperty(JOB_DESCRIPTION)
            sc.setLocalProperty(JOB_DESCRIPTION, name)
        sp.start = time.perf_counter()
        try:
            yield sp
        except BaseException as exc:
            sp.error = type(exc).__name__
            raise
        finally:
            sp.end = t_out = time.perf_counter()
            if sc is not None:
                sc.setLocalProperty(JOB_DESCRIPTION, prev)
            stack.pop()
            if parent is not None:
                self.spans[parent].child_s += sp.dur
            self.add_overhead((sp.start - t_in) + (time.perf_counter() - t_out))

    # -- wrappers ------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``before(args, kwargs)`` returns a state handed to
        ``after(span, args, kwargs, result, state)``, which may add
        attributes to the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            t = time.perf_counter()
            state = before(args, kwargs) if before is not None else None
            tracer.add_overhead(time.perf_counter() - t)
            with tracer.span(name) as sp:
                out = orig(*args, **kwargs)
            if after is not None:
                t = time.perf_counter()
                after(sp, args, kwargs, out, state)
                tracer.add_overhead(time.perf_counter() - t)
            return out

        self.patch(owner, attr, wrapper)

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr``, keeping the original for ``uninstall``."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- queries -------------------------------------------------------
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end]

    def total_s(self, name: str) -> float:
        return sum(s.dur for s in self.named(name))


# -- Spark status store -----------------------------------------------------


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1e3 if opt.isDefined() else None


class SparkMeter:
    """Counters from the driver's status stores, diffed between a
    ``mark()`` and ``since()``: jobs, stages, tasks, executor run and
    CPU time, shuffle and spill bytes, and exchanges in the physical
    plans of the SQL executions."""

    def __init__(self, spark) -> None:
        self.spark = spark
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._jvm, self._gw = sc._jvm, sc._gateway

    def _drain(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(5000)

    def _jobs(self):
        lst = self._store.jobsList(None)
        return [lst.apply(i) for i in range(lst.size())]

    def _stages(self):
        lst = self._store.stageList(
            self._jvm.java.util.ArrayList(), False, False,
            self._gw.new_array(self._jvm.double, 0),
            self._jvm.java.util.ArrayList(),
        )
        return [lst.apply(i) for i in range(lst.size())]

    def mark(self) -> dict:
        self._drain()
        jobs = self._jobs()
        stages = self._stages()
        execs = self._sql.executionsList()
        return {
            "job": max((j.jobId() for j in jobs), default=-1),
            "stage": max((s.stageId() for s in stages), default=-1),
            "sql": max(
                (execs.apply(i).executionId() for i in range(execs.size())),
                default=-1,
            ),
        }

    def jobs_by_description(self, mark: dict) -> dict[str, int]:
        """Jobs submitted since ``mark``, counted by job description."""
        self._drain()
        out: dict[str, int] = {}
        for j in self._jobs():
            if j.jobId() > mark["job"]:
                d = j.description()
                key = d.get() if d.isDefined() else ""
                out[key] = out.get(key, 0) + 1
        return out

    def since(self, mark: dict, t0_epoch: float, t1_epoch: float) -> dict:
        self._drain()
        jobs = [j for j in self._jobs() if j.jobId() > mark["job"]]
        stages = [s for s in self._stages() if s.stageId() > mark["stage"]]
        intervals = sorted(
            (_opt_ms(j.submissionTime()), _opt_ms(j.completionTime()) or t1_epoch)
            for j in jobs
            if j.submissionTime().isDefined()
        )
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in intervals:
            s, e = max(s, t0_epoch), min(e, t1_epoch)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        execs = self._sql.executionsList()
        exchanges = 0
        for i in range(execs.size()):
            ex = execs.apply(i)
            if ex.executionId() > mark["sql"]:
                tree = (ex.physicalPlanDescription() or "").split("\n\n", 1)[0]
                exchanges += len(re.findall(r"\bExchange\b|BroadcastExchange", tree))
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s.numCompleteTasks() + s.numFailedTasks() for s in stages),
            "spark.task_s": sum(s.executorRunTime() for s in stages) / 1e3,
            "spark.cpu_s": sum(s.executorCpuTime() for s in stages) / 1e9,
            "spark.driver_gap_s": max(0.0, (t1_epoch - t0_epoch) - busy),
            "spark.shuffle_read_bytes": sum(
                s.shuffleRemoteBytesRead() + s.shuffleLocalBytesRead() for s in stages
            ),
            "spark.shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in stages),
            "spark.spill_bytes": sum(
                s.memoryBytesSpilled() + s.diskBytesSpilled() for s in stages
            ),
            "spark.exchanges": exchanges,
        }


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase durations (ms) recorded on ``df``'s query
    execution: analysis always, optimization and planning once the
    DataFrame itself has been executed."""
    out: dict[str, float] = {}
    try:
        it = df._jdf.queryExecution().tracker().phases().iterator()
    except Exception:  # noqa: BLE001 - a plan without a tracker adds nothing
        return out
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


def make_stream_listener():
    """A ``StreamingQueryListener`` that keeps every progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Collect(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            self.progress.append(event.progress)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return _Collect()


def stream_metrics(progress: list) -> dict:
    triggers = [p for p in progress if p.numInputRows > 0 or p.stateOperators]
    dur = [p.durationMs for p in triggers]
    ops = [op for p in triggers for op in p.stateOperators]
    return {
        "streaming.triggers": len(triggers),
        "streaming.trigger_ms": sum(d.get("triggerExecution", 0) for d in dur),
        "streaming.add_batch_ms": sum(d.get("addBatch", 0) for d in dur),
        "streaming.state_rows_updated": sum(op.numRowsUpdated for op in ops),
        "streaming.state_commit_ms": sum(op.commitTimeMs for op in ops),
    }
