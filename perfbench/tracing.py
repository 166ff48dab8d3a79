"""Spans and per-layer counters, read from outside the engine.

A :class:`Tracer` records one span per call at each layer boundary the
benchmark crosses (name, layer, start, end, parent, run id) and keeps
them in memory until :meth:`Tracer.dump`. With tracing off every hook
is a no-op, so untraced runs time the engine alone.

:class:`LayerProbe` snapshots the process-wide counters that belong to
one layer each before and after the timed region:

- the engine's public staging counters (``staging.WRITE_COUNT`` /
  ``HIT_COUNT``);
- py4j round trips, counted by wrapping this process's gateway client;
- Spark's own status stores over py4j (``AppStatusStore`` jobs and
  stages, ``SQLAppStatusStore`` executions and their plan metrics),
  which work with ``spark.ui.enabled=false``;
- JVM GC time (``GarbageCollectorMXBean``), CPU steal (``/proc/stat``)
  and the load average.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time

# Plan-node metric name -> (per-layer metric, unit scale into s or MB)
_ARROW_METRICS = {
    "time to run Python workers": "arrow.py_run_s",
    "time to start Python workers": "arrow.py_start_s",
    "data sent to Python workers": "arrow.sent_mb",
    "data returned from Python workers": "arrow.returned_mb",
}
_ARROW_NODE = re.compile(r"Pandas|Python|Arrow")
_UNIT_SCALE = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10, "TiB": 2**20,
}
_MB = 2**20


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric (``"total (min, med, max)\\n1.2
    MiB (...)"`` or ``"345 ms"``), in seconds or MiB."""
    line = text.split("\n")[1] if "\n" in text else text
    m = re.match(r"\s*([0-9.,]+)\s*([A-Za-z]+)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_SCALE.get(m.group(2), 0.0)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
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


class Tracer:
    """In-memory span recorder; every method is a no-op when off."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0  # time spent inside tracing code

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - rec["end"]

    def timed(self, fn):
        """Run ``fn`` as tracing work: its time counts as overhead."""
        t = time.perf_counter()
        try:
            return fn()
        finally:
            self.overhead_s += time.perf_counter() - t

    def self_time_by_layer(self) -> dict[str, float]:
        """Span duration minus the part covered by its child spans,
        summed per layer."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - union_length(children.get(s["id"], []))
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, sort_keys=True) + "\n")


class Py4jCounter:
    """Counts py4j commands sent by this process's gateway client."""

    def __init__(self, spark):
        self.calls = 0
        client = spark.sparkContext._gateway._gateway_client
        inner = client.send_command

        def counted(*args, **kwargs):
            self.calls += 1
            return inner(*args, **kwargs)

        client.send_command = counted


def _epoch_s(opt) -> float | None:
    """Scala ``Option[java.util.Date]`` -> epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class LayerProbe:
    """Before/after snapshots of the layer counters of one Spark app."""

    def __init__(self, spark, staging_root: str):
        self.staging_root = staging_root
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(self._jvm.double, 0)

    # ------------------------------------------------------------ raw reads
    def _stages(self):
        empty = self._jvm.java.util.ArrayList()
        return self._store.stageList(None, False, False, self._no_quantiles, empty)

    def _max_ids(self) -> dict:
        jobs = self._store.jobsList(None)
        stages = self._stages()
        execs = self._sql.executionsList()
        return {
            "job": max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1),
            "stage": max((stages.apply(i).stageId() for i in range(stages.size())), default=-1),
            "exec": max(
                (execs.apply(i).executionId() for i in range(execs.size())), default=-1
            ),
        }

    def _gc_ms(self) -> int:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size()))

    @staticmethod
    def _steal_ticks() -> int:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) if len(fields) > 8 else 0

    def snapshot(self) -> dict:
        from mapreduceapp_spark.plans import staging

        return {
            "wall": time.time(),
            "stage_writes": staging.WRITE_COUNT,
            "stage_hits": staging.HIT_COUNT,
            "steal": self._steal_ticks(),
            "gc_ms": self._gc_ms(),
            "ids": self._max_ids(),
        }

    # ------------------------------------------------------------ deltas
    def delta(self, before: dict) -> dict[str, float]:
        """Layer metrics for everything that ran since ``before``."""
        from mapreduceapp_spark.plans import staging

        after = self.snapshot()
        ids = before["ids"]
        out = {
            "staging.writes": float(after["stage_writes"] - before["stage_writes"]),
            "staging.hits": float(after["stage_hits"] - before["stage_hits"]),
            "driver.jvm_gc_s": (after["gc_ms"] - before["gc_ms"]) / 1000.0,
            "host.steal_s": (after["steal"] - before["steal"]) / os.sysconf("SC_CLK_TCK"),
        }
        looked = out["staging.writes"] + out["staging.hits"]
        out["staging.hit_ratio"] = out["staging.hits"] / looked if looked else 0.0
        out.update(self._stage_metrics(ids["stage"]))
        out.update(self._job_metrics(ids["job"], before["wall"], after["wall"]))
        out.update(self._sql_metrics(ids["exec"]))
        out["staging.mb"] = dir_bytes(staging.staging_root()) / _MB
        return out

    def _stage_metrics(self, after_id: int) -> dict[str, float]:
        keys = ("spark.stages", "spark.tasks", "spark.task_s", "spark.task_cpu_s",
                "spark.gc_s", "spark.shuffle_read_mb", "spark.shuffle_write_mb",
                "spark.spill_mb", "spark.input_mb")
        out = dict.fromkeys(keys, 0.0)
        stages = self._stages()
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= after_id or s.status().toString() == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += s.numCompleteTasks()
            out["spark.task_s"] += s.executorRunTime() / 1000.0
            out["spark.task_cpu_s"] += s.executorCpuTime() / 1e9
            out["spark.gc_s"] += s.jvmGcTime() / 1000.0
            out["spark.shuffle_read_mb"] += s.shuffleReadBytes() / _MB
            out["spark.shuffle_write_mb"] += s.shuffleWriteBytes() / _MB
            out["spark.spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / _MB
            out["spark.input_mb"] += s.inputBytes() / _MB
        return out

    def _job_metrics(self, after_id: int, t0: float, t1: float) -> dict[str, float]:
        jobs = self._store.jobsList(None)
        spans = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= after_id:
                continue
            s, e = _epoch_s(j.submissionTime()), _epoch_s(j.completionTime())
            if s is not None:
                spans.append((s, e if e is not None else t1))
        busy = union_length(spans)
        return {
            "spark.jobs": float(len(spans)),
            "spark.job_busy_s": busy,
            "driver.idle_s": max(t1 - t0 - busy, 0.0),
        }

    def _sql_metrics(self, after_id: int) -> dict[str, float]:
        out = dict.fromkeys(_ARROW_METRICS.values(), 0.0)
        out["staging.write_s"] = 0.0
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            eid = ex.executionId()
            if eid <= after_id:
                continue
            done = ex.completionTime()
            if done.isDefined() and self.staging_root in ex.physicalPlanDescription():
                out["staging.write_s"] += (
                    done.get().getTime() - ex.submissionTime()
                ) / 1000.0
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                if not _ARROW_NODE.search(node.name()):
                    continue
                metrics = node.metrics()
                for k in range(metrics.size()):
                    pm = metrics.apply(k)
                    key = _ARROW_METRICS.get(pm.name())
                    if key is None:
                        continue
                    v = values.get(pm.accumulatorId())
                    if v.isDefined():
                        out[key] += parse_sql_metric(v.get())
        return out


def catalyst_phases(df) -> dict[str, float]:
    """Plan ``df`` to its physical plan and read Catalyst's phase
    tracker: seconds spent in analysis, optimization and planning."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[f"catalyst.{phase}_s"] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def process_tree_hwm_mb(root_pid: int) -> float:
    """Sum of peak resident set (VmHWM) over the descendants of
    ``root_pid`` — the Spark JVM and its Python workers."""
    total_kb = 0
    for pid in descendants(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def descendants(root_pid: int) -> list[int]:
    """Pids of every live descendant of ``root_pid``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out
