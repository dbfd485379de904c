"""Layer tracing from outside the package.

Nothing inside ``time_series_and_data_lakes_spark`` is instrumented. The
tracer times the benchmark's own calls into each layer (spans), counts py4j
round trips by wrapping the gateway client's ``send_command`` in this
process, and reads Spark's own status stores after each op:

* ``sc._jsc.sc().statusStore()`` — the jobs of a job group, and per stage
  its task count, run/CPU time, shuffle bytes, spill and GC;
* ``sharedState().statusStore()`` — SQL executions and the metrics of their
  Python-runner nodes.

Both answer with ``spark.ui.enabled=false``. Spans are kept in memory and
written out once, when the run ends.
"""

from __future__ import annotations

import re
import statistics
import time
from contextlib import contextmanager

PHASES = ("build", "plan", "export", "exec")


def _opt(o):
    """A Scala Option's value, or None."""
    return o.get() if o.isDefined() else None


_TIMING = re.compile(r"^([\d.,]+) (ms|s|m|min|h)\b")
_UNIT_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6}


def metric_total(text: str | None) -> float:
    """Total of a formatted SQL metric value (``'total (min, med, max ...)\n
    5.8 s (1.8 s, ...)'``, ``'831 ms'``, ``'5,000'``); timings come back in
    milliseconds."""
    if not text:
        return 0.0
    lines = text.strip().split("\n")
    # per-task metrics carry a "total (min, med, max ...)" header line
    first = lines[-1] if lines[0].startswith("total") else lines[0]
    m = _TIMING.match(first)
    if m:
        return float(m.group(1).replace(",", "")) * _UNIT_MS[m.group(2)]
    m = re.match(r"^([\d.,]+)", first)
    return float(m.group(1).replace(",", "")) if m else 0.0


class StatusReader:
    """Job, stage and SQL-execution rows from the live status stores."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every posted event."""
        self.jsc.listenerBus().waitUntilEmpty()

    def jobs_since(self, job_id: int) -> list[int]:
        """Ids of the jobs newer than ``job_id`` (the store lists newest first)."""
        seq = self.store.jobsList(self.sc._jvm.java.util.ArrayList())
        out = []
        for i in range(seq.size()):
            jid = seq.apply(i).jobId()
            if jid <= job_id:
                break
            out.append(jid)
        return sorted(out)

    def last_job_id(self) -> int:
        seq = self.store.jobsList(self.sc._jvm.java.util.ArrayList())
        return seq.apply(0).jobId() if seq.size() else -1

    def last_execution_id(self) -> int:
        seq = self.sql.executionsList()
        return seq.apply(seq.size() - 1).executionId() if seq.size() else -1

    def job(self, job_id: int) -> dict:
        j = self.store.job(job_id)
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        ids = j.stageIds()
        return {
            "job_id": job_id,
            "group": _opt(j.jobGroup()),
            "description": _opt(j.description()),
            "submitted": sub.getTime() / 1e3 if sub else None,
            "completed": done.getTime() / 1e3 if done else None,
            "stages": [self.stage(ids.apply(k)) for k in range(ids.size())],
        }

    def stage(self, stage_id: int) -> dict:
        sd = self.store.lastStageAttempt(stage_id)
        row = {
            "stage_id": stage_id,
            "status": sd.status().toString(),
            "tasks": sd.numCompleteTasks(),
            "run_ms": sd.executorRunTime(),
            "cpu_ms": sd.executorCpuTime() / 1e6,
            "shuffle_read_bytes": sd.shuffleReadBytes(),
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
            "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            "gc_ms": sd.jvmGcTime(),
            "skew": 1.0,
        }
        if row["tasks"] >= 2:
            tasks = self.store.taskList(stage_id, sd.attemptId(), row["tasks"])
            runs = []
            for k in range(tasks.size()):
                m = _opt(tasks.apply(k).taskMetrics())
                if m is not None:
                    runs.append(m.executorRunTime())
            if runs and statistics.median(runs) > 0:
                row["skew"] = max(runs) / statistics.median(runs)
        return row

    def python_totals(self, after: int, upto: int | None = None, timeout_s: float = 5.0) -> dict:
        """Python-runner node totals over the SQL executions with ids in
        ``(after, upto]``: ``eval_ms`` (time to run Python workers) and
        ``rows`` (rows the Python nodes returned)."""
        totals = {"eval_ms": 0.0, "rows": 0.0}
        seq = self.sql.executionsList()
        i = seq.size() - 1
        while i >= 0 and seq.apply(i).executionId() > after:
            exec_id = seq.apply(i).executionId()
            i -= 1
            if upto is not None and exec_id > upto:
                continue
            values = self._metric_values(exec_id, timeout_s)
            nodes = self.sql.planGraph(exec_id).allNodes()
            for n in range(nodes.size()):
                ms = nodes.apply(n).metrics()
                named = {ms.apply(k).name(): ms.apply(k).accumulatorId() for k in range(ms.size())}
                if "time to run Python workers" not in named:
                    continue
                totals["eval_ms"] += metric_total(values.get(named["time to run Python workers"]))
                totals["rows"] += metric_total(values.get(named.get("number of output rows")))
        return totals

    def _metric_values(self, execution_id: int, timeout_s: float) -> dict:
        # the store aggregates an execution's metrics asynchronously after
        # it ends; poll until they have landed
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            data = self.sql.execution(execution_id)
            if data.isDefined() and data.get().metricValues() is not None:
                break
            time.sleep(0.02)
        it = self.sql.executionMetrics(execution_id).iterator()
        out = {}
        while it.hasNext():
            kv = it.next()
            out[kv._1()] = kv._2()
        return out


class Tracer:
    """Spans, py4j round-trip counts and status-store rows of one run.

    Span tree: ``workload`` → ``op`` → ``build`` / ``plan`` / ``export`` /
    ``exec``. Each span records name, start, end, parent, op id, and the
    py4j calls made while it was open. A phase span also sets the Spark job
    description, so every job carries the phase that launched it."""

    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.reader = StatusReader(spark)
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.ops: list[dict] = []
        self.calls = 0
        self._client = self.sc._gateway._gateway_client
        self._send = self._client.send_command

        def counted(*args, **kwargs):
            self.calls += 1
            return self._send(*args, **kwargs)

        self._client.send_command = counted
        self._open("workload", None)

    def _open(self, name: str, op_id: int | None) -> None:
        self.spans.append(
            {
                "id": len(self.spans),
                "name": name,
                "start": time.time(),
                "end": None,
                "parent": self.stack[-1] if self.stack else None,
                "op_id": op_id,
                "py4j_calls": self.calls,
            }
        )
        self.stack.append(len(self.spans) - 1)

    def _close(self) -> dict:
        span = self.spans[self.stack.pop()]
        span["end"] = time.time()
        span["py4j_calls"] = self.calls - span["py4j_calls"]
        return span

    @contextmanager
    def span(self, name: str, op_id: int | None = None):
        if op_id is None and self.stack:
            op_id = self.spans[self.stack[-1]]["op_id"]
        if name in PHASES:
            self.sc.setJobDescription(name)
        self._open(name, op_id)
        try:
            yield
        finally:
            self._close()

    @staticmethod
    def plan(df) -> int:
        """Run Catalyst planning of ``df``; returns its exchange count."""
        text = df._jdf.queryExecution().executedPlan().toString()
        return len(re.findall(r"\b(?:Exchange|BroadcastExchange)\b", text))

    def mark(self) -> dict:
        """The newest job and SQL execution so far; what an op launches
        after this is newer."""
        self.reader.drain()
        return {"job": self.reader.last_job_id(), "execution": self.reader.last_execution_id()}

    def after_op(self, op_id: int, kind: str, group: str, mark: dict, extra: dict) -> dict:
        """Collect a finished op's phase times and its jobs, stage rows and
        Python-node totals (all read after the op's timed region)."""
        spans = [s for s in self.spans if s["op_id"] == op_id]
        op_span = next(s for s in spans if s["name"] == "op")
        phases = {p: 0.0 for p in PHASES}
        build_calls = 0
        for s in spans:
            if s["name"] in PHASES:
                phases[s["name"]] += s["end"] - s["start"]
            if s["name"] == "build":
                build_calls += s["py4j_calls"]
        self.reader.drain()
        new = self.reader.jobs_since(mark["job"])
        row = {
            "op_id": op_id,
            "kind": kind,
            "group": group,
            "wall_s": op_span["end"] - op_span["start"],
            "phases": phases,
            "py4j_build": build_calls,
            "jobs": [self.reader.job(j) for j in new],
            "python": self.reader.python_totals(mark["execution"]),
        }
        row.update(extra)
        self.ops.append(row)
        return row

    def finish(self) -> None:
        while self.stack:
            self._close()
        self._client.send_command = self._send
        self.sc.setJobDescription(None)
