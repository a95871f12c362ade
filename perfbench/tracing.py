"""Tracing for the traced run, all from outside the engine: spans kept in
memory, Spark's status store read through py4j (job, stage and SQL-node
metrics; it is populated with the UI disabled), streaming progress, and
the peak RSS of the process tree from /proc.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time

from flinkstreametl_spark.streaming.monitor import ProgressRecorder


class Tracer:
    """Spans (name, start, end, parent) recorded around calls into each
    layer. Thread-safe: sink callbacks arrive on py4j's callback thread."""

    def __init__(self):
        self._lock = threading.Lock()
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        with self._lock:
            self.spans.append({"id": len(self.spans), "name": name, "parent": parent,
                               "start": start, "end": end, **attrs})
            return len(self.spans) - 1

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class _Span:
    """A top-level span; its id is the parent of spans recorded inside it."""

    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs
        self.id: int | None = None

    def __enter__(self):
        self.start = time.perf_counter()
        self.id = self.tracer.add(self.name, self.start, None, **self.attrs)
        return self

    def __exit__(self, *exc):
        self.end = time.perf_counter()
        self.tracer.spans[self.id]["end"] = self.end
        return False

    @property
    def seconds(self) -> float:
        return self.end - self.start


class StateProgressRecorder(ProgressRecorder):
    """ProgressRecorder that also keeps each batch's state-operator
    metrics (commit time, rows), which the stream replays report."""

    def __init__(self):
        super().__init__()
        self.state: list[list[dict]] = []

    def onQueryProgress(self, event) -> None:
        super().onQueryProgress(event)
        ops = json.loads(event.progress.json).get("stateOperators") or []
        with self._lock:
            self.state.append(ops)

    def summary(self) -> dict[str, float]:
        with self._lock:
            progress, state = list(self.progress), list(self.state)
        data = [p for p in progress if p["numInputRows"] > 0]
        trig = [p["durationMs"].get("triggerExecution", 0) for p in data]
        over = [p["durationMs"].get("triggerExecution", 0) - p["durationMs"].get("addBatch", 0) for p in data]
        source = [p["durationMs"].get("latestOffset", 0) + p["durationMs"].get("getBatch", 0) for p in data]
        return {
            "rows_read": sum(p["numInputRows"] for p in progress),
            "get_batch_ms": sum(source),
            "batches": len(data),
            "no_data_batches": len(progress) - len(data),
            "trigger_ms_p50": statistics.median(trig) if trig else 0.0,
            "overhead_ms": statistics.median(over) if over else 0.0,
            "state_commit_ms": sum(op.get("commitTimeMs", 0) for ops in state for op in ops),
            "state_rows": sum(op.get("numRowsUpdated", 0) for ops in state for op in ops),
        }


_TIME_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_SIZE_B = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_NUM = re.compile(r"\s*([\d.,]+)\s*([A-Za-z]*)")

PY_SENT = "data sent to Python workers"
PY_METRICS = {
    "time to start Python workers": "worker_start_ms",
    "time to initialize Python workers": "worker_init_ms",
    "time to run Python workers": "run_ms",
    PY_SENT: "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}


def metric_value(text: str) -> float:
    """The total of an SQL metric as rendered by the status store:
    ``"1.9 s"`` or ``"total (min, med, max ...)\\n3.8 s (...)"``.
    Timings come back in ms, sizes in bytes."""
    m = _NUM.match(text.strip().splitlines()[-1])
    if not m:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    return value * _TIME_MS.get(unit, _SIZE_B.get(unit, 1))


class StatusStore:
    """Job, stage and SQL-node metrics from the live status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._tracker = sc._jsc.sc().statusTracker()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _list(self, seq) -> list:
        return list(self._conv.asJava(seq))

    def wait_for_events(self) -> None:
        """Wait until the listener bus has delivered every event posted so
        far, so the store holds every job that has ended."""
        self._bus.waitUntilEmpty()

    def executions(self) -> int:
        """How many SQL executions the store holds; ``python_nodes`` can
        skip the ones that ran before."""
        return self._sql.executionsCount()

    def _jobs(self, ids) -> dict[int, list[int]]:
        return {j: self._list(self._store.job(j).stageIds()) for j in ids}

    def tagged_jobs(self, tag: str) -> dict[int, list[int]]:
        """Stage ids of the jobs that carry the job tag ``tag``."""
        return self._jobs(self._tracker.getJobIdsForTag(tag))

    def group_jobs(self, group: str) -> dict[int, list[int]]:
        """Stage ids of the jobs of job group ``group`` (a streaming
        query's jobs run in the group named by its run id)."""
        return self._jobs(self._tracker.getJobIdsForGroup(group))

    def stage_totals(self, jobs: dict[int, list[int]]) -> dict[str, float]:
        t = dict.fromkeys(("tasks", "run_s", "cpu_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"), 0.0)
        for sid in {s for stages in jobs.values() for s in stages}:
            for sd in self._list(self._store.stageData(sid, False, None, False, None)):
                if sd.status().toString() == "SKIPPED":
                    continue
                t["tasks"] += sd.numTasks()
                t["run_s"] += sd.executorRunTime() / 1e3
                t["cpu_s"] += sd.executorCpuTime() / 1e9
                t["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
                t["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                t["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
        return t

    def python_nodes(self, job_ids, skip: int) -> dict[str, float]:
        """Summed metrics of the Python-boundary plan nodes (any node that
        reports data sent to Python workers) of the SQL executions that
        ran any of ``job_ids``, looking past the first ``skip``."""
        job_ids = set(job_ids)
        t = dict.fromkeys(("nodes", *PY_METRICS.values()), 0.0)
        for ex in self._list(self._sql.executionsList(skip, 1 << 30)):
            if not job_ids & set(self._conv.asJava(ex.jobs()).keySet()):
                continue
            eid = ex.executionId()
            values = self._conv.asJava(self._sql.executionMetrics(eid))
            for node in self._list(self._sql.planGraph(eid).allNodes()):
                metrics = {m.name(): m.accumulatorId() for m in self._list(node.metrics())}
                if PY_SENT not in metrics:
                    continue
                t["nodes"] += 1
                for name, key in PY_METRICS.items():
                    text = values.get(metrics.get(name))
                    if text:
                        t[key] += metric_value(text)
        return t


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and all its descendants: the
    driver, the JVM it launched and the JVM's Python workers."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    total_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as fh:
                total_kb += next((int(line.split()[1]) for line in fh if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return total_kb / 1024
