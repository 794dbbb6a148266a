"""Spans and Spark SQL metrics for the traced benchmark run.

Spans are recorded only from the benchmark's own code, around each call
into a layer of the program.  Spark's SQL metrics are read afterwards from
the session's SQL status store, which Spark keeps even with the UI off.
Each SQL execution belongs to the span that launched it: the span's index
is the job description while it is open, and Spark copies the description
into the execution.  The status store registers executions from Spark's
listener bus after the fact, so counting execution ids at span boundaries
would race it; the ids each span launched are recorded when it resolves.
"""

from __future__ import annotations

import re
import time
from collections import defaultdict
from contextlib import contextmanager

# Spark renders sizes with Utils.bytesToString and times with
# msDurationToString ("nsTiming" metrics are shown in ms as well).
_SCALE = {
    "": 1.0, "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3,
    "TiB": 1024.0**4, "PiB": 1024.0**5,
    "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
}
_NUM = re.compile(r"\s*(-?[\d,]*\.?\d+(?:E-?\d+)?)\s*([A-Za-z]*)")
_NODE = re.compile(r'label="(?:<br>)?<b>(.*?)</b><br><br>(.*?)" tooltip=')

# SQL metric name -> layer metric.  Sizes are bytes, timings milliseconds,
# the rest counts.  Output rows count only on scan nodes.
SQL_METRICS = {
    "number of output rows": "spark.scan_rows",
    "size of files read": "spark.scan_bytes",
    "shuffle bytes written": "spark.shuffle_write_bytes",
    "shuffle records written": "spark.shuffle_records",
    "fetch wait time": "spark.shuffle_fetch_wait_ms",
    "spill size": "spark.spill_bytes",
    "time to run Python workers": "operators.python_run_ms",
    "data sent to Python workers": "operators.python_bytes_in",
    "data returned from Python workers": "operators.python_bytes_out",
    "time to start Python workers": "operators.python_start_ms",
    "time to initialize Python workers": "operators.python_init_ms",
    "written output": "write.bytes",
    "number of written files": "write.files",
}
_TASK_SPREAD = " total (min, med, max (stageId: taskId))"


def parse_metric(value: str) -> float:
    """Number in a SQL metric value as Spark renders it: ``31,376``,
    ``984.2 KiB``, ``396 ms``, or for a metric over several tasks the
    total followed by its spread, ``6.4 s (1.5 s, 1.7 s, 1.7 s (...))``."""
    m = _NUM.match(value)
    if not m or m.group(2) not in _SCALE:
        raise ValueError(f"unparsed SQL metric value {value!r}")
    return float(m.group(1).replace(",", "")) * _SCALE[m.group(2)]


def parse_plan_metrics(dot: str) -> dict[str, float]:
    """Layer metrics summed over the nodes of one execution's plan graph,
    given as the DOT text ``SparkPlanGraph.makeDotFile`` renders.  A node
    label lists ``name: value`` lines; a metric over several tasks puts
    ``name total (min, med, max ...)`` on one line and its value on the next."""
    out: dict[str, float] = defaultdict(float)
    for node, label in _NODE.findall(dot):
        lines = label.split("<br>")
        for i, line in enumerate(lines):
            if line.endswith(_TASK_SPREAD) and i + 1 < len(lines):
                name, value = line[: -len(_TASK_SPREAD)], lines[i + 1]
            elif ": " in line:
                name, value = line.rsplit(": ", 1)
            else:
                continue
            metric = SQL_METRICS.get(name)
            if metric == "spark.scan_rows" and not node.startswith("Scan"):
                continue
            if metric:
                out[metric] += parse_metric(value)
    return out


class Tracer:
    """In-memory span recorder.

    A span is (name, start, end, parent, op id, workload).  While a span is
    open its index is the SparkContext job description, which Spark copies
    into every SQL execution the span launches; ``resolve`` uses it to give
    each span the ids and the SQL metrics of its own executions (those not
    launched under a child span).
    """

    TAG = "perfbench-span:"

    def __init__(self, spark, workload: str):
        self.spark = spark
        self.workload = workload
        self.spans: list[dict] = []
        self.op_id = -1
        self._stack: list[int] = []
        self._store = spark._jsparkSession.sharedState().statusStore()

    def _tag(self) -> None:
        sc = self.spark.sparkContext
        sc.setJobDescription(f"{self.TAG}{self._stack[-1]}" if self._stack else None)

    @contextmanager
    def span(self, name: str):
        rec = {
            "name": name, "op": self.op_id, "workload": self.workload,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
        }
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        self._tag()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._tag()

    def self_ms(self) -> dict[str, float]:
        """Self time per span name, summed: duration minus the part of it
        that child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"]] += (s["end"] - s["start"] - child[i]) * 1e3
        return out

    def resolve(self, timeout_s: float = 20.0) -> None:
        """Attach to each span ``exec_ids`` and ``sql``: the ids and the
        summed SQL metrics, job and task counts and durations of the
        executions it launched itself.  Waits for their end events, which
        Spark's listener bus may deliver after the action has returned."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(int(timeout_s * 1e3))
        tracker = self.spark.sparkContext.statusTracker()
        deadline = time.monotonic() + timeout_s
        for s in self.spans:
            s["exec_ids"], s["sql"] = [], defaultdict(float)
        it = self._store.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            desc = str(e.description())
            if not desc.startswith(self.TAG):
                continue
            eid = int(e.executionId())
            while e.completionTime().isEmpty() and time.monotonic() < deadline:
                time.sleep(0.05)
                e = self._store.execution(eid).get()
            span = self.spans[int(desc[len(self.TAG):])]
            span["exec_ids"].append(eid)
            out = span["sql"]
            out["executions"] += 1
            if e.completionTime().isDefined():
                out["exec_ms"] += e.completionTime().get().getTime() - e.submissionTime()
            out["jobs"] += e.jobs().size()
            for sid in filter(None, str(e.stages().mkString(",")).split(",")):
                info = tracker.getStageInfo(int(sid))
                if info is not None:
                    out["tasks"] += info.numTasks
            dot = self._store.planGraph(eid).makeDotFile(self._store.executionMetrics(eid))
            for k, v in parse_plan_metrics(dot).items():
                out[k] += v
