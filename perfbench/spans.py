"""In-memory spans and Spark's own per-job records.

Spans are recorded by the benchmark around the calls it makes into the
program (input open, each public operator call, each sink action); the
program itself is not instrumented. After each job the tracer reads
what Spark already keeps with the UI disabled:

- ``AppStatusStore`` (the ``SparkContext`` status store): the job
  group's jobs and their stages, with stage submission/completion
  times and the stage task-metric totals (run time, CPU, GC, shuffle,
  spill, peak execution memory, input).
- ``SQLAppStatusStore``: every SQL execution the job started, with the
  plan graph's per-node SQL metrics (whole-stage-codegen duration,
  Python worker boot/init/run time and bytes, exchange partitions,
  files read, per-node output rows).

Stage intervals are attached as child spans of the job, so a job's
self time is the part of its sink actions that no stage covers.
"""

from __future__ import annotations

import contextlib
import itertools
import time
from dataclasses import asdict, dataclass, field

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0,
          "h": 3600.0}

# (plan-graph node-name prefix or "", SQL metric name) -> layer metric
_SQL_METRICS = {
    ("WholeStageCodegen", "duration"): "codegen.pipeline_s",
    ("", "time to start Python workers"): "python.boot_s",
    ("", "time to initialize Python workers"): "python.init_s",
    ("", "time to run Python workers"): "python.run_s",
    ("", "data sent to Python workers"): "python.bytes_sent",
    ("", "data returned from Python workers"): "python.bytes_recv",
    ("Exchange", "number of partitions"): "exchange.partitions",
    ("", "number of files read"): "sources.files_read",
}

# StageData getter -> (layer metric, scale to base unit)
_STAGE_METRICS = {
    "executorRunTime": ("jvm.executor_run_s", 1e-3),
    "executorCpuTime": ("jvm.executor_cpu_s", 1e-9),
    "jvmGcTime": ("jvm.gc_s", 1e-3),
    "numTasks": ("jvm.tasks", 1),
    "shuffleWriteBytes": ("exchange.bytes", 1),
    "shuffleWriteTime": ("exchange.write_s", 1e-9),
    "shuffleFetchWaitTime": ("exchange.fetch_wait_s", 1e-3),
    "memoryBytesSpilled": ("memory.spill_bytes", 1),
    "diskBytesSpilled": ("memory.spill_bytes", 1),
    "inputBytes": ("sources.scan_bytes", 1),
    "inputRecords": ("sources.scan_rows", 1),
}


def parse_metric(text: str) -> float:
    """Value of a SQL metric as the status store formats it: a plain
    count ("1,234") or a total line ("total (min, med, max ...)\\n
    1.2 MiB (...)")."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    parts = line.split(" (", 1)[0].split()
    if not parts:
        return 0.0
    num = float(parts[0].replace(",", ""))
    return num * _UNITS.get(parts[1], 1.0) if len(parts) > 1 else num


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    kind: str = ""
    attrs: dict = field(default_factory=dict)


def _union_len(intervals: list, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self.jobs: list[dict] = []
        self.current_job: Span | None = None
        self._ids = itertools.count(1)
        self._groups = itertools.count(1)
        sc = spark.sparkContext
        self._sc = sc
        self._jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._exec_mark = 0
        self._job_spans: list = []

    # ---- spans ------------------------------------------------------------

    def _open(self, name: str, parent: Span | None, kind: str) -> Span:
        s = Span(next(self._ids), name, time.time(), 0.0,
                 parent.id if parent else None, self.run_id, kind)
        self.spans.append(s)
        return s

    @contextlib.contextmanager
    def span(self, name: str, parent: Span | None = None, kind: str = ""):
        s = self._open(name, parent, kind)
        try:
            yield s
        finally:
            s.end = time.time()

    # ---- jobs -------------------------------------------------------------

    def _seq(self, seq) -> list:
        return list(self._jvm.scala.jdk.javaapi.CollectionConverters
                    .asJava(seq))

    def begin_job(self, name: str) -> str:
        self._bus.waitUntilEmpty()
        self._exec_mark = self._sql.executionsCount()
        group = f"{self.run_id}-{next(self._groups)}-{name}"
        self._sc.setJobGroup(group, name)
        self.current_job = self._open("job:" + name, None, "job")
        self.current_job.attrs["group"] = group
        return group

    def end_job(self, group: str, ctx) -> None:
        job = self.current_job
        job.end = time.time()
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        self._bus.waitUntilEmpty()
        rec = {"job": job.name[4:], "group": group,
               "wall_s": job.end - job.start}
        jids = list(self._sc.statusTracker().getJobIdsForGroup(group))
        rec["spark_jobs"] = len(jids)
        intervals = self._stages(jids, job, rec)
        self._sql_metrics(rec)
        calls = [s for s in self.spans if s.parent == job.id
                 and s.kind == "call"]
        sinks = [s for s in self.spans if s.parent == job.id
                 and s.kind == "sink"]
        rec["driver.call_s"] = sum(s.end - s.start for s in calls)
        # a job's stage-covered time counts only inside its sink actions;
        # eager jobs inside an operator call belong to driver.call_s
        rec["stage_covered_s"] = sum(
            _union_len(intervals, s.start, s.end) for s in sinks)
        rec["driver.residue_s"] = (rec["wall_s"] - rec["driver.call_s"]
                                   - rec["stage_covered_s"])
        rec["calls"] = {s.name[5:]: s.end - s.start for s in calls}
        rec["jobs_in_call"] = {
            s.name[5:]: sum(1 for _, (a, b) in self._job_spans
                            if a >= s.start - 0.001 and b <= s.end + 0.001)
            for s in calls}
        rec["rows"] = {k: v[0] for k, v in ctx.digests.items()}
        rec.update({f"count.{k}": v for k, v in ctx.counts.items()})
        self.jobs.append(rec)
        self.current_job = None

    def _opt(self, o):
        return o.get().getTime() / 1000.0 if o.isDefined() else None

    def _stages(self, jids: list, job: Span, rec: dict) -> list:
        intervals, seen = [], set()
        self._job_spans = []
        for k in set(m for m, _ in _STAGE_METRICS.values()):
            rec[k] = 0.0
        rec["memory.peak_exec_bytes"] = 0.0
        rec["jvm.stages"] = 0
        rec["stage_write.write_tasks"] = 0
        for jid in jids:
            jd = self._store.job(jid)
            a, b = self._opt(jd.submissionTime()), self._opt(
                jd.completionTime())
            if a is not None and b is not None:
                self._job_spans.append((jid, (a, b)))
            for sid in self._seq(jd.stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                for sd in self._seq(self._store.stageData(
                        sid, False,
                        getattr(self._store, "stageData$default$3")(),
                        False,
                        getattr(self._store, "stageData$default$5")())):
                    if str(sd.status().toString()) != "COMPLETE":
                        continue
                    a, b = self._opt(sd.submissionTime()), self._opt(
                        sd.completionTime())
                    if a is None or b is None:
                        continue
                    intervals.append((a, b))
                    self.spans.append(Span(
                        next(self._ids), f"stage:{sid}", a, b, job.id,
                        self.run_id, "stage",
                        {"tasks": sd.numTasks(), "name": sd.name()[:80]}))
                    rec["jvm.stages"] += 1
                    for getter, (k, scale) in _STAGE_METRICS.items():
                        rec[k] += getattr(sd, getter)() * scale
                    rec["memory.peak_exec_bytes"] = max(
                        rec["memory.peak_exec_bytes"],
                        float(sd.peakExecutionMemory()))
                    if sd.outputRecords() > 0:
                        rec["stage_write.write_tasks"] += sd.numTasks()
        return intervals

    def _sql_metrics(self, rec: dict) -> None:
        for k in set(_SQL_METRICS.values()):
            rec[k] = 0.0
        node_rows: dict = {}
        raw = rec["sql_raw"] = []
        n = self._sql.executionsCount() - self._exec_mark
        execs = self._seq(self._sql.executionsList(self._exec_mark, n)) \
            if n > 0 else []
        rec["sql_executions"] = len(execs)
        for ex in execs:
            eid = ex.executionId()
            values = dict(self._jvm.scala.jdk.javaapi.CollectionConverters
                          .asJava(self._sql.executionMetrics(eid)))
            for node in self._seq(self._sql.planGraph(eid).allNodes()):
                name = node.name()
                for m in self._seq(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if v is None:
                        continue
                    mname = m.name()
                    if mname == "number of output rows":
                        key = name.split(" (")[0]
                        node_rows[key] = node_rows.get(key, 0) + \
                            parse_metric(v)
                        continue
                    for (prefix, metric), out in _SQL_METRICS.items():
                        if mname == metric and name.startswith(prefix):
                            rec[out] += parse_metric(v)
                            raw.append((eid, name, mname, v))
        rec["node_rows"] = node_rows

    def export(self) -> dict:
        return {"run_id": self.run_id,
                "spans": [asdict(s) for s in self.spans],
                "jobs": self.jobs}
