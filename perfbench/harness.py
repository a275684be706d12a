"""Shared machinery: run directory and environment, the Spark session,
timing statistics, memory, and the tracer.

Everything a run writes lives under ``<checkout>/.perfbench/``: a fresh
``run-<pid>`` work directory (inputs, layouts, sinks, Spark scratch),
removed at the end, plus the ``result-*.json`` and ``trace-*.json``
files that outlive it.
"""

from __future__ import annotations

import gc
import json
import os
import re
import shlex
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")
T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def checkout_ok() -> bool:
    return (os.path.isfile(os.path.join(ROOT, "logsdb_spark", "session.py"))
            and os.path.isfile(os.path.join(ROOT, "bench.py")))


def width() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> str:
    """Point every cache and scratch directory at a fresh per-run work
    directory and give Spark's Python workers this checkout on
    PYTHONPATH. Must run before pyspark or logsdb_spark is imported."""
    work = os.path.join(OUT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("silver", "tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(width())
    # A fixed-size heap (initial = maximum) keeps GC sizing, and so the
    # resident set and timings, from drifting between runs.
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["LOGSDB_SPARK_SILVER_ROOT"] = os.path.join(work, "silver")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    confs = {
        "spark.driver.defaultJavaOptions": f"-Xms2g -Djava.io.tmpdir={work}/tmp",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()] + ["pyspark-shell"])
    return work


def start_spark():
    from logsdb_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then close the JVM's stdin (its exit signal)
    and wait for the process to end."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def discard(*dirs: str) -> None:
    """Remove set-up directories as soon as they are done with, while
    their pages are still unwritten: on a disk mounted with online
    discard, deleting files that already reached the disk costs
    seconds per few tens of MB. Input directories take the layouts
    built from them along (layout names carry the input path digest)."""
    import hashlib

    silver = os.environ.get("LOGSDB_SPARK_SILVER_ROOT", "")
    for d in dirs:
        digest = hashlib.sha1(os.path.abspath(d).encode()).hexdigest()[:12]
        if os.path.isdir(silver):
            for name in os.listdir(silver):
                if f"_{digest}_" in name:
                    shutil.rmtree(os.path.join(silver, name), ignore_errors=True)
        shutil.rmtree(d, ignore_errors=True)


def hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb(spark) -> float:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return hwm_mb("self") + (hwm_mb(proc.pid) if proc is not None else 0.0)


def hygiene(spark) -> None:
    """Untimed between-operation cleanup, as bench.py does."""
    spark.catalog.clearCache()
    gc.collect()


# --- statistics ---------------------------------------------------------------


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def slow_quarter_mean(xs) -> float:
    """Mean of the slowest quarter of the samples (at least one): a tail
    that averages several samples, so it is steadier than any single
    high percentile."""
    s = sorted(xs)
    if not s:
        return float("nan")
    k = max(1, len(s) // 4)
    return sum(s[-k:]) / k


def tail(xs) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and
    its value (nearest-rank). With fewer than 20 samples no such
    percentile lies above the median: the maximum then."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return float("nan"), float("nan")
    if n < 20:
        return 100.0, s[-1]
    rank = n - 10  # 1-based rank with exactly ten samples above it
    return 100.0 * rank / n, s[rank - 1]


def slope(ys) -> float:
    """Least-squares slope of ys against their index."""
    n = len(ys)
    if n < 2:
        return 0.0
    mx, my = (n - 1) / 2, sum(ys) / n
    den = sum((i - mx) ** 2 for i in range(n))
    return sum((i - mx) * (y - my) for i, y in enumerate(ys)) / den


# --- tracing ------------------------------------------------------------------

_UNITS = {"ns": 1e-6, "ms": 1.0, "s": 1e3, "min": 6e4, "h": 3.6e6,
          "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3}


def _metric_total(text: str) -> float:
    """Total of a formatted SQL metric ("1.7 s", "total (...)\\n152.7 KiB
    (...)") in ms for timings and bytes for sizes."""
    m = re.match(r"\s*([\d.,]+)\s*(\w+)", text.strip().splitlines()[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


SQL_METRICS = {
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_start_ms",
    "time to initialize Python workers": "python_start_ms",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
}
COUNTERS = ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
            "gc_ms", "shuffle_write_bytes", "shuffle_fetch_wait_ms",
            "spill_bytes", "python_run_ms", "python_start_ms", "python_bytes")


class Tracer:
    """Spans kept in memory and written out at the end. A span is
    (id, parent, name, kind, start, end, attrs); times are seconds from
    the tracer's origin. When disabled, ``span`` only runs its body and
    ``op`` only times it; while ``on`` is false (the untraced passes of a
    traced run) ``op`` records a bare span without Spark counters."""

    def __init__(self, spark, workload: str, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.on = False
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.origin = time.time()
        self._group = 0
        if enabled:
            sc = spark.sparkContext
            self.tracker = sc.statusTracker()
            self.store = sc._jsc.sc().statusStore()
            self.sql = spark._jsparkSession.sharedState().statusStore()
            self.next_exec = self._first_free_exec()
        self.root = self._open(workload, "workload") if enabled else None

    def _first_free_exec(self) -> int:
        n = 0
        it = self.sql.executionsList().iterator()
        while it.hasNext():
            n = max(n, it.next().executionId() + 1)
        return n

    def _open(self, name, kind, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "parent": self.stack[-1] if self.stack else None,
                           "name": name, "kind": kind,
                           "start": time.time() - self.origin, "end": None,
                           "attrs": attrs})
        self.stack.append(sid)
        return sid

    def _close(self, sid: int) -> None:
        self.spans[sid]["end"] = time.time() - self.origin
        self.stack.remove(sid)

    def current(self) -> dict:
        return self.spans[self.stack[-1]]

    @contextmanager
    def span(self, name: str, kind: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = self._open(name, kind, **attrs)
        try:
            yield self.spans[sid]
        finally:
            self._close(sid)

    def op(self, name: str, kind: str, fn, groups: list | None = None, **attrs):
        """Run ``fn`` as one operation; returns (result, seconds, span).
        Traced, the span's attrs gain the Spark counters of every job in
        the operation's job group, plus the groups ``fn`` appends to
        ``groups`` (a stream's runId: stream jobs run on the stream's
        own thread), and of the SQL executions started meanwhile."""
        if not self.on:
            with self.span(name, kind, **attrs) as span:
                t0 = time.perf_counter()
                out = fn()
                return out, time.perf_counter() - t0, span
        sc = self.spark.sparkContext
        while self.sql.execution(self.next_exec).isDefined():
            self.next_exec += 1  # executions of untraced work
        self._group += 1
        gid = f"perfbench-{self._group}"
        sc.setJobGroup(gid, name)
        sid = self._open(name, kind, **attrs)
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            dt = time.perf_counter() - t0
            self._close(sid)
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        span = self.spans[sid]
        self.collect(span, [gid, *(groups or [])])
        return out, dt, span

    def collect(self, span: dict, groups) -> None:
        c = dict.fromkeys(COUNTERS, 0.0)
        for g in groups:
            for jid in self.tracker.getJobIdsForGroup(g):
                job = self.store.job(jid)
                c["jobs"] += 1
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    self.spans.append({
                        "id": len(self.spans), "parent": span["id"],
                        "name": f"job {jid}", "kind": "spark_job",
                        "start": sub.get().getTime() / 1e3 - self.origin,
                        "end": done.get().getTime() / 1e3 - self.origin,
                        "attrs": {}})
                it = job.stageIds().iterator()
                while it.hasNext():
                    try:
                        st = self.store.lastStageAttempt(it.next())
                    except Exception:  # skipped stages have no attempt
                        continue
                    c["stages"] += 1
                    c["tasks"] += st.numTasks()
                    c["executor_run_ms"] += st.executorRunTime()
                    c["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                    c["gc_ms"] += st.jvmGcTime()
                    c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    c["shuffle_fetch_wait_ms"] += st.shuffleFetchWaitTime()
                    c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        while True:
            ex = self.sql.execution(self.next_exec)
            if not ex.isDefined():
                break
            self.next_exec += 1
            ex = ex.get()
            values = self.sql.executionMetrics(ex.executionId())
            seen = set()
            it = ex.metrics().iterator()
            while it.hasNext():
                m = it.next()
                key = SQL_METRICS.get(m.name())
                if key is None or m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    c[key] += _metric_total(v.get())
        c["cached_rdds"] = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        span["attrs"].update(c)

    def nest(self, parent: dict, children) -> list[dict]:
        """Add ``children`` (name, kind, start, end, attrs; tracer
        seconds) under ``parent``, then move each of its Spark-job spans
        into the child span whose interval holds the job's start."""
        added = []
        for name, kind, start, end, attrs in children:
            added.append({"id": len(self.spans), "parent": parent["id"],
                          "name": name, "kind": kind, "start": start,
                          "end": end, "attrs": attrs})
            self.spans.append(added[-1])
        kids = [s for s in self.spans
                if s["parent"] == parent["id"] and s["kind"] != "spark_job"]
        for s in self.spans:
            if s["parent"] == parent["id"] and s["kind"] == "spark_job":
                for c in kids:
                    if c["start"] <= s["start"] <= c["end"]:
                        s["parent"] = c["id"]
                        break
        return added

    def self_ms(self, span: dict) -> float:
        """Span duration minus the part of it its children cover."""
        kids = [s for s in self.spans if s["parent"] == span["id"]]
        return 1e3 * (span["end"] - span["start"]) - self.covered_ms(span, kids)

    def job_ms(self, span: dict) -> float:
        """The part of the span covered by Spark jobs at any depth."""
        ids, grew = {span["id"]}, True
        while grew:
            grew = False
            for s in self.spans:
                if s["parent"] in ids and s["id"] not in ids:
                    ids.add(s["id"])
                    grew = True
        jobs = [s for s in self.spans
                if s["id"] in ids and s["kind"] == "spark_job"]
        return self.covered_ms(span, jobs)

    @staticmethod
    def covered_ms(span: dict, kids: list[dict]) -> float:
        """Length of the union of the kids' intervals inside the span."""
        iv = sorted((s["start"], s["end"]) for s in kids if s["end"] is not None)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
            s, e = max(s, span["start"]), min(e, span["end"])
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return 1e3 * covered

    def finish(self) -> None:
        if self.enabled:
            self._close(self.root)


def write_json(name: str, obj) -> str:
    os.makedirs(OUT, exist_ok=True)
    path = os.path.join(OUT, name)
    with open(path, "w") as fh:
        json.dump(obj, fh, indent=1, sort_keys=True)
    return path
