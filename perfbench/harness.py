"""Benchmark plumbing shared by the workloads: the host-fitted session,
the digest sink, oracle checks, the closed-loop job runner and the
driver-side memory sampler."""

from __future__ import annotations

import datetime
import hashlib
import math
import os
import platform
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass, field
from typing import Callable, Optional


# --------------------------------------------------------------------------
# host and session
# --------------------------------------------------------------------------

def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def driver_heap_mb(avail_mb: int) -> int:
    """A quarter of available memory, between 1 and 2 GiB: local[N]
    packs executors and driver in one JVM, and the Python workers and
    the OS page cache need the rest. The benchmark's inputs are tens of
    MB, so 2 GiB never binds."""
    return max(1024, min(2048, avail_mb // 4))


def cpu_ticks() -> list:
    """Aggregate /proc/stat CPU counters (user ... steal ...)."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_share(before: list, after: list) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def host_record(cpus: int, heap_mb: int) -> dict:
    import duckdb
    import numpy
    import pandas
    import pyarrow
    import pyspark
    return {
        "cpus": cpus,
        "online_cpus": os.cpu_count(),
        "mem_available_mb": mem_available_mb(),
        "driver_heap_mb": heap_mb,
        "loadavg": list(os.getloadavg()),
        "python": platform.python_version(),
        "versions": {"pyspark": pyspark.__version__,
                     "duckdb": duckdb.__version__,
                     "pyarrow": pyarrow.__version__,
                     "numpy": numpy.__version__,
                     "pandas": pandas.__version__},
    }


def make_bench_session(cpus: int, heap_mb: int, work_dir: str):
    """local[cpus] session through the program's own factory, with every
    scratch path inside ``work_dir``."""
    from geozero_spark.plans.session import make_session

    local = os.path.join(work_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    # every JVM the launcher starts keeps its temp files in the work dir
    # and writes no /tmp/hsperfdata entry
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-XX:-UsePerfData "
                                       f"-Djava.io.tmpdir={local}")
    s = make_session(
        "perfbench", cpus=cpus, shuffle_partitions=max(cpus * 2, 8),
        extra={"spark.driver.memory": f"{heap_mb}m",
               "spark.local.dir": local,
               # a fixed, pre-touched heap keeps the RSS figure from
               # tracking when the collector happens to grow the heap
               "spark.driver.extraJavaOptions":
                   f"-Xms{heap_mb}m -XX:+AlwaysPreTouch "
                   f"-Djava.io.tmpdir={local} -Dderby.system.home={local}",
               "spark.sql.warehouse.dir": os.path.join(work_dir, "wh"),
               "spark.ui.showConsoleProgress": "false"})
    s.sparkContext.setLogLevel("ERROR")
    return s


def stop_session(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it (its
    Python worker daemon exits with it)."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# --------------------------------------------------------------------------
# sinks and checks
# --------------------------------------------------------------------------

def sink_digest(df) -> tuple:
    """Order-insensitive digest over EVERY output column, computed by
    the engine: (rows, xor of row hashes, sum of their low 32 bits).
    Unlike count(), Catalyst cannot prune any column away."""
    from pyspark.sql import functions as F
    d = df.toDF(*[f"c{i}" for i in range(len(df.columns))])
    h = F.xxhash64(*[F.col(c) for c in d.columns])
    r = d.select(F.count(F.lit(1)), F.bit_xor(h),
                 F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF)))).collect()[0]
    return (int(r[0]), int(r[1] or 0), int(r[2] or 0))


def _canon(v) -> str:
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    return v if isinstance(v, str) else repr(v)


def rows_digest(cols: list, rows: list) -> tuple:
    """(rows, sha256) over the sorted canonical rows, columns by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for line in sorted("\x1f".join(_canon(r[i]) for i in order)
                       for r in rows):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return len(rows), h.hexdigest()


class Mismatch(AssertionError):
    pass


class Oracle:
    """DuckDB over the generated files: the DuckDB twins of
    ``geozero_spark/oracles.py`` run against the same inputs."""

    def __init__(self, in_dir: str):
        import duckdb
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        self.times: dict = {}
        for t in ("documents", "nation", "embeddings"):
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                         f"'{in_dir}/{t}.parquet'")

    def check(self, label: str, df, sql: str) -> list:
        """Compare ``df`` with the oracle SQL's rows; returns the rows."""
        res = self.con.sql(sql)
        ocols = [d[0] for d in res.description]
        rows = res.fetchall()
        self.compare(label, df, ocols, rows)
        return rows

    def compare(self, label: str, df, ocols: list, orows: list) -> None:
        t0 = time.perf_counter()
        cols = df.columns
        if sorted(cols) != sorted(ocols):
            raise Mismatch(f"{label}: columns {cols} != oracle {ocols}")
        got = rows_digest(cols, [tuple(r) for r in df.collect()])
        exp = rows_digest(ocols, orows)
        self.times[label] = time.perf_counter() - t0
        if got != exp:
            raise Mismatch(f"{label}: {got[0]} rows vs oracle {exp[0]}, "
                           f"value digests differ")

    def write(self, sql: str, out_dir: str, n_files: int, key: str) -> str:
        """Write the rows of ``sql`` as ``n_files`` parquet files split
        by ``key % n_files``: a stored table with a fixed file layout."""
        os.makedirs(out_dir)
        for i in range(n_files):
            self.con.execute(
                f"COPY (SELECT * FROM ({sql}) WHERE {key} % {n_files} = {i})"
                f" TO '{out_dir}/part-{i:05d}.parquet' (FORMAT PARQUET)")
        return out_dir

    def close(self) -> None:
        self.con.close()


def same(label: str, a, b) -> None:
    if a != b:
        raise Mismatch(f"{label}: {a} != {b}")


# --------------------------------------------------------------------------
# jobs
# --------------------------------------------------------------------------

@dataclass
class Job:
    """One closed-loop job type. ``run(ctx)`` makes the public operator
    calls through ``ctx.call`` and ends every output in ``ctx.sink``;
    ``verify(ctx, frames, oracle)`` checks the verification pass's
    frames; ``reset`` clears state before each rep, untimed."""
    name: str
    run: Callable
    verify: Callable
    reset: Optional[Callable] = None


@dataclass
class JobCtx:
    """Per-execution context: records sink digests, and spans when a
    tracer is attached."""
    spark: object
    tracer: object = None
    job_span: object = None
    # the verification pass caches each sink's frame so the checks read
    # the very rows the digest was taken over, without recomputing them
    keep: bool = False
    digests: dict = field(default_factory=dict)
    frames: dict = field(default_factory=dict)
    counts: dict = field(default_factory=dict)

    def call(self, label: str, fn: Callable):
        if self.tracer is None:
            return fn()
        with self.tracer.span("call:" + label, self.job_span, kind="call"):
            return fn()

    def sink(self, label: str, df) -> tuple:
        if self.keep:
            df = df.persist()
        self.frames[label] = df
        if self.tracer is None:
            d = sink_digest(df)
        else:
            with self.tracer.span("sink:" + label, self.job_span,
                                  kind="sink"):
                d = sink_digest(df)
        self.digests[label] = d
        return d


@dataclass
class JobResult:
    name: str
    wall_s: float
    ok: bool
    error: str = ""


def run_job(spark, job: Job, expected: Optional[dict],
            tracer=None) -> tuple[JobResult, JobCtx]:
    """One execution. With ``expected`` the digests must reproduce the
    verified ones; a raise or a wrong digest is a failed job. Without
    it, this is the verification pass."""
    if job.reset is not None:
        job.reset()
    ctx = JobCtx(spark, tracer, keep=expected is None)
    group = None
    if tracer is not None:
        group = tracer.begin_job(job.name)
        ctx.job_span = tracer.current_job
    t0 = time.perf_counter()
    err = ""
    try:
        job.run(ctx)
    except Exception as e:  # a job failure is a measured outcome
        err = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
    wall = time.perf_counter() - t0
    if tracer is not None:
        tracer.end_job(group, ctx)
    if not err and expected is not None and ctx.digests != expected:
        err = f"digest mismatch: {ctx.digests} != {expected}"
    return JobResult(job.name, wall, not err, err), ctx


def median(xs: list) -> float:
    return float(statistics.median(xs))


# --------------------------------------------------------------------------
# memory
# --------------------------------------------------------------------------

def _children_map() -> dict:
    kids: dict = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                st = f.read()
        except OSError:
            continue
        ppid = int(st[st.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(p))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(kids: dict, pids: list) -> list:
    out, todo = [], list(pids)
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_mem_mb(root_pid: int) -> tuple[float, float, int]:
    """(JVM RSS MB, Python workers PSS MB, worker processes) below
    ``root_pid``, excluding the benchmark's own interpreter: the direct
    children are the JVM, everything below them its workers. The workers
    are forked from one daemon and map the same libraries, so their
    proportional set size counts each shared page once rather than once
    per worker."""
    kids = _children_map()
    jvms = kids.get(root_pid, [])
    jvm = sum(_rss_kb(p) for p in jvms)
    workers = _descendants(kids, [c for p in jvms for c in kids.get(p, [])])
    return (jvm / 1024.0, sum(_pss_kb(p) for p in workers) / 1024.0,
            len(workers))


class MemSampler:
    """Samples the descendant tree's memory every ``period`` seconds and
    keeps the peak since the last ``take()``."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self._peak = (0.0, 0.0, 0)
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            parts = tree_mem_mb(me)
            with self._lock:
                if parts[0] + parts[1] > self._peak[0] + self._peak[1]:
                    self._peak = parts
            self._stop.wait(self.period)

    def take(self) -> tuple[float, float, int]:
        """``tree_mem_mb`` at the highest total since the last call."""
        with self._lock:
            peak, self._peak = self._peak, (0.0, 0.0, 0)
        return peak

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)
        return False
