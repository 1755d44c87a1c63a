"""Spans and Spark's own counters for the traced benchmark run.

A span is one call the harness makes into a layer: pass -> query ->
build / plan / execute / verify. Every span records its id, its parent,
its wall-clock start and end, and the window of Spark job ids submitted
while it was open: ``(job_lo, job_hi]``, read from the status store's
newest job id at each boundary after the listener bus has drained. Jobs
are attributed by that window, not by job group, so jobs started from
the engine's thread pools and from stream-execution threads land in the
span that was open when they were submitted.

After each query the tracer reads the status store once for the jobs in
the query's window, their stages, the SQL executions that ran, and the
streaming progress events the listener received; the status store keeps
only ``spark.ui.retainedJobs`` jobs, so it is read per query, not per
run. All counters come from public hooks or the status stores:
``spark.streams.addListener``, a wrapper around the py4j client's send,
and ``statusStore()`` / ``sharedState().statusStore()``.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError
from pyspark.sql.streaming import StreamingQueryListener

MB = 1024 * 1024
_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": MB, "GiB": 1024 * MB, "TiB": 1024 ** 2 * MB}
_PY_SENT = "data sent to Python workers"
_PY_RECEIVED = "data returned from Python workers"
_PY_ROWS = "number of output rows"

# Counters summed per leaf span from the stages that ran in it.
STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "tasks": ("numCompleteTasks", 1),
    "failed_tasks": ("numFailedTasks", 1),
    "shuffle_read_mb": ("shuffleReadBytes", 1 / MB),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / MB),
    "spill_mb": ("diskBytesSpilled", 1 / MB),
    "input_mb": ("inputBytes", 1 / MB),
    "input_rows": ("inputRecords", 1),
    "output_mb": ("outputBytes", 1 / MB),
}


def metric_value(text: str) -> float:
    """Parse a SQL metric's display string: ``12,345``, ``1.5 MiB`` or
    ``total (min, med, max (stageId: taskId))\\n1.5 MiB (...)``."""
    head = text.strip().split("\n")[-1].split(" (")[0].split()
    value = float(head[0].replace(",", ""))
    return value * _SIZE_UNITS[head[1]] if len(head) > 1 else value


class _ProgressListener(StreamingQueryListener):
    def __init__(self, tracer: "Tracer") -> None:
        self._tracer = tracer

    def onQueryStarted(self, event) -> None:
        self._tracer.callback_threads.add(threading.get_ident())

    def onQueryProgress(self, event) -> None:
        self._tracer.callback_threads.add(threading.get_ident())
        self._tracer.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    """Records spans and per-span Spark counters for one session."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext._jsc.sc()
        self._bus = sc.listenerBus()
        self._jobs = sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        jvm = spark._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala, "MODULE$"))

        self.spans: list[dict] = []
        self.queries: list[dict] = []
        self.progress: list[dict] = []
        self.callback_threads: set[int] = set()
        self._ids = itertools.count()
        self._stack: list[dict] = []
        self._seen_stages: set[int] = set()
        self._last_exec = self._newest_execution()

        # Count py4j round trips made by the harness and the engine's own
        # threads; py4j callback threads (listener deliveries) are not
        # engine work and are skipped.
        self._calls = 0
        self._calls_lock = threading.Lock()
        self._streams = spark.streams
        self._client = spark.sparkContext._gateway._gateway_client
        self._send = send = self._client.send_command

        def counting_send(*args, **kwargs):
            if threading.get_ident() not in self.callback_threads:
                with self._calls_lock:
                    self._calls += 1
            return send(*args, **kwargs)

        self._counting_send = counting_send
        self._listener = _ProgressListener(self)
        self._hook()

    def _hook(self) -> None:
        self._client.send_command = self._counting_send
        self._streams.addListener(self._listener)

    @contextmanager
    def paused(self):
        """Remove the py4j counter and the streaming listener, so that
        untraced passes of a traced run pay none of the tracing cost."""
        self._client.send_command = self._send
        self._streams.removeListener(self._listener)
        try:
            yield
        finally:
            self._hook()

    # -- boundaries ---------------------------------------------------------

    def _json(self, jobj):
        return json.loads(self._mapper.writeValueAsString(jobj))

    def _job_high_water(self) -> int:
        """Newest job id the status store has seen, after the listener bus
        has delivered every event posted so far."""
        self._bus.waitUntilEmpty()
        jobs = self._jobs.jobsList(None)  # newest first
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    def _newest_execution(self) -> int:
        n = self._sql.executionsCount()
        return self._sql.executionsList(n - 1, 1).head().executionId() if n else -1

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": next(self._ids),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            **attrs,
            "job_lo": self._job_high_water(),
        }
        if name == "query":
            # Events and SQL executions of an earlier, untraced pass are
            # delivered by now; none of them belong to this query.
            self.progress.clear()
            self._last_exec = self._newest_execution()
        calls0 = self._calls
        rec["start"] = time.time()
        t0 = time.perf_counter()
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["seconds"] = time.perf_counter() - t0
            rec["end"] = time.time()
            rec["py4j_calls"] = self._calls - calls0
            self._stack.pop()
            rec["job_hi"] = self._job_high_water()
            self.spans.append(rec)

    # -- per-query counters -------------------------------------------------

    def finish_query(self, query: dict) -> dict:
        """Attribute the jobs, stages, SQL executions and streaming
        batches of one finished query span to its leaf spans."""
        leaves = {s["name"]: s for s in self.spans if s["parent"] == query["id"]}
        out = {
            "query": query["query"],
            "span": query["id"],
            "seconds": query["seconds"],
            "jobs_in_window": query["job_hi"] - query["job_lo"],
        }
        for name, leaf in leaves.items():
            out[name] = {
                "seconds": leaf["seconds"],
                "py4j_calls": leaf["py4j_calls"],
                "jobs": leaf["job_hi"] - leaf["job_lo"],
                **{k: 0.0 for k in STAGE_FIELDS},
            }
        longest = None
        lo, hi = query["job_lo"], query["job_hi"]
        newest = self._job_high_water()
        jobs = self._json(self._jobs.jobsList(None).take(newest - lo)) if hi > lo else []
        for job in sorted((j for j in jobs if lo < j["jobId"] <= hi), key=lambda j: j["jobId"]):
            leaf = next(
                (n for n, s in leaves.items() if s["job_lo"] < job["jobId"] <= s["job_hi"]),
                None,
            )
            for sid in sorted(job["stageIds"]):
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                if leaf is None:
                    continue
                try:
                    stage = self._json(self._jobs.lastStageAttempt(sid))
                except Py4JError:  # evicted from the status store
                    continue
                for key, (field, scale) in STAGE_FIELDS.items():
                    out[leaf][key] += stage[field] * scale
                if leaf == "execute" and (
                    longest is None or stage["executorRunTime"] > longest["executorRunTime"]
                ):
                    longest = stage
        if "execute" in out:
            out["execute"]["task_skew"] = self._task_skew(longest)
        out["python_workers"] = self._python_worker_metrics()
        out["streaming"], self.progress = self.progress, []
        self.queries.append(out)
        return out

    def _task_skew(self, stage: dict | None) -> float:
        """Max over median task duration in the stage that ran longest."""
        if stage is None:
            return 1.0
        tasks = self._json(
            self._jobs.taskList(stage["stageId"], stage["attemptId"], stage["numTasks"])
        )
        durations = [t["duration"] for t in tasks if t.get("duration")]
        if len(durations) < 2:
            return 1.0
        return max(durations) / statistics.median(durations)

    def _python_worker_metrics(self) -> dict:
        totals = {"rows": 0.0, "mb_sent": 0.0, "mb_received": 0.0}
        newest = self._newest_execution()
        k = newest - self._last_exec
        if k <= 0:
            return totals
        n = self._sql.executionsCount()
        k = min(k, n)
        for ex in self._json(self._sql.executionsList(n - k, k)):
            if ex["executionId"] <= self._last_exec:
                continue
            if not any(m["name"] == _PY_SENT for m in ex["metrics"]):
                continue
            values = ex.get("metricValues") or self._json(
                self._sql.executionMetrics(ex["executionId"])
            )
            graph = self._json(self._sql.planGraph(ex["executionId"]))
            for node in _plan_nodes(graph["nodes"]):
                acc = {m["name"]: str(m["accumulatorId"]) for m in node.get("metrics", [])}
                if _PY_SENT not in acc:
                    continue
                for key, name, scale in (
                    ("rows", _PY_ROWS, 1),
                    ("mb_sent", _PY_SENT, 1 / MB),
                    ("mb_received", _PY_RECEIVED, 1 / MB),
                ):
                    if acc.get(name) in values:
                        totals[key] += metric_value(values[acc[name]]) * scale
        return totals

    def dump(self, path: str, info: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"info": info, "spans": self.spans, "queries": self.queries}, f)


def _plan_nodes(nodes: list[dict]):
    for node in nodes:
        yield node
        yield from _plan_nodes(node.get("nodes") or [])
