"""Outside-in tracing around the program's public calls.

Every span wraps one public call (or the ``collect`` that materializes a
returned lazy frame) from the benchmark's side; nothing inside the
program is instrumented. Per span it records:

- ``wall_s``: wall time of the call;
- ``jobs``: Spark jobs whose id was issued during the call. Job ids are
  attributed by the window of ids the scheduler handed out between the
  call's start and end, not by job group: the engine's thread pools run
  jobs on threads that carry no job group of the caller;
- ``jobs_busy_s``: the union of those jobs' [submit, complete] intervals;
- ``driver_s``: ``wall_s - jobs_busy_s``, the time no job of the call was
  running, i.e. plan construction, py4j traffic and driver-side numpy;
- ``exec_run_s``: executor run time summed over the jobs' stages, from
  the status store (kept even with ``spark.ui.enabled=false``);
- ``py4j_calls``: gateway round trips, counted by wrapping the gateway
  client's ``send_command``;
- ``tasks`` and ``shuffle_mb``: tasks run and shuffle bytes written by
  those stages;
- for ``.collect`` spans, ``analysis_ms``/``optimization_ms``/
  ``planning_ms`` from the frame's ``queryExecution().tracker()``.

The tracer's own status-store reads happen between spans, after the
call's counters are taken, so they are not attributed to any call.
"""

from __future__ import annotations

import json
import threading
import time

from py4j.protocol import Py4JJavaError

CALL_COUNTERS = ("wall_s", "jobs", "jobs_busy_s", "driver_s", "exec_run_s", "py4j_calls")
STAGE_COUNTERS = ("tasks", "shuffle_mb")
PHASE_COUNTERS = ("analysis_ms", "optimization_ms", "planning_ms")


class Direct:
    """The untraced hook: calls straight through."""

    def call(self, name, fn, *args, **kwargs):
        return fn(*args, **kwargs)

    def collect(self, name, df):
        return df.collect()


class Tracer:
    """The traced hook. ``close()`` restores the gateway client."""

    def __init__(self, spark, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._pass = 0
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._client = sc._gateway._gateway_client
        self._orig_send = self._client.send_command
        self._sent = 0
        lock = threading.Lock()  # the engine's pool threads send too
        orig = self._orig_send

        def counted(*args, **kwargs):
            with lock:
                self._sent += 1
            return orig(*args, **kwargs)

        self._client.send_command = counted

    def close(self) -> None:
        self._client.send_command = self._orig_send

    def start_pass(self) -> None:
        self._pass += 1

    def call(self, name, fn, *args, **kwargs):
        return self._span(name, lambda: fn(*args, **kwargs), None)

    def collect(self, name, df):
        return self._span(name + ".collect", df.collect, df)

    def _span(self, name, thunk, df):
        job0 = self._dag.nextJobId()
        calls0 = self._sent
        start = time.time()
        t0 = time.perf_counter()
        out = thunk()
        wall = time.perf_counter() - t0
        calls = self._sent - calls0
        job1 = self._dag.nextJobId()
        span = {
            "trace": self.trace_id,
            "pass": self._pass,
            "span": name,
            "parent": f"pass{self._pass}",
            "start": start,
            "end": start + wall,
            "wall_s": wall,
            "py4j_calls": calls,
            "jobs": job1 - job0,
        }
        span.update(self._job_counters(range(job0, job1)))
        span["driver_s"] = max(wall - span["jobs_busy_s"], 0.0)
        if df is not None:
            span.update(self._phases(df))
        self.spans.append(span)
        return out

    def _job_counters(self, job_ids) -> dict:
        self._bus.waitUntilEmpty()
        intervals, stages = [], set()
        for jid in job_ids:
            job = self._store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            ids = job.stageIds()
            stages.update(ids.apply(i) for i in range(ids.size()))
        run_ms = tasks = shuffle = 0
        for sid in stages:
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage never ran and has no attempt
                continue
            run_ms += st.executorRunTime()
            tasks += st.numCompleteTasks()
            shuffle += st.shuffleWriteBytes()
        return {
            "jobs_busy_s": _union_ms(intervals) / 1000.0,
            "exec_run_s": run_ms / 1000.0,
            "tasks": tasks,
            "shuffle_mb": shuffle / 2**20,
        }

    @staticmethod
    def _phases(df) -> dict:
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for phase in ("analysis", "optimization", "planning"):
            summary = phases.get(phase)
            if summary.isDefined():
                s = summary.get()
                out[f"{phase}_ms"] = float(s.endTimeMs() - s.startTimeMs())
            else:
                out[f"{phase}_ms"] = 0.0
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for span in self.spans:
                fh.write(json.dumps(span) + "\n")


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return float(total)
