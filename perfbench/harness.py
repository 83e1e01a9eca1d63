"""Session lifecycle, timing, spans and Spark status-store readers.

Everything here is benchmark code around the program's public API: it
starts and stops Spark applications through
``logprep_spark.session.get_spark``, attributes Spark jobs to the call
that fired them through job groups, and reads stage metrics from the
application's status store.
"""

from __future__ import annotations

import json
import os
import resource
import shlex
import statistics
import time
from contextlib import contextmanager


def configure_env(work: str, cpus: int) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``.
    Must run before pyspark launches its JVM."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(
        [
            # no hsperfdata: the JVM would write it to /tmp whatever its tmpdir
            "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "--conf", f"spark.local.dir={local}",
            "pyspark-shell",
        ]
    )


class Session:
    """One driver JVM hosting a sequence of Spark applications."""

    def __init__(self, app: str, cpus: int):
        self.app = app
        self.cpus = cpus
        self.spark = None

    def start(self, master: str | None = None):
        """Start a fresh application; the first call also launches the
        JVM. Returns the seconds it took."""
        from logprep_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(self.app, master or f"local[{self.cpus}]")
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    @property
    def sc(self):
        return self.spark.sparkContext

    def jvm_pid(self) -> int | None:
        proc = getattr(self.sc._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this Python process plus the JVM."""
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        pid = self.jvm_pid()
        if pid is not None:
            with open(f"/proc/{pid}/status", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        return (py_kb + jvm_kb) / 1024.0

    def shutdown(self) -> None:
        """Stop the application and the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


class Tracer:
    """In-memory spans (name, start, end, parent), written at the end.
    Disabled, ``span`` costs one branch and records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"id": idx, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus what its children cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, fh, indent=1)


@contextmanager
def job_group(sc, group: str):
    """Tag every Spark job fired inside the block with ``group``."""
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def group_stats(sc, group: str) -> dict:
    """Jobs, stages, tasks and bytes of every job fired under ``group``,
    read from the application's status store. Skipped stages are not
    counted."""
    store = sc._jsc.sc().statusStore()
    ids = sc.statusTracker().getJobIdsForGroup(group)
    stats = {"jobs": len(ids), "job_s": 0.0, "stages": 0, "tasks": 0, "run_s": 0.0,
             "shuffle_bytes": 0, "spill_bytes": 0}
    seen: set[int] = set()
    for jid in ids:
        job = store.job(jid)
        if job.submissionTime().isDefined() and job.completionTime().isDefined():
            stats["job_s"] += (job.completionTime().get().getTime()
                               - job.submissionTime().get().getTime()) / 1000.0
        it = job.stageIds().iterator()
        while it.hasNext():
            sid = it.next()
            if sid in seen:
                continue
            seen.add(sid)
            st = store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue
            stats["stages"] += 1
            stats["tasks"] += st.numCompleteTasks()
            stats["run_s"] += st.executorRunTime() / 1000.0
            stats["shuffle_bytes"] += st.shuffleWriteBytes()
            stats["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return stats


def timed(fn, *args, **kw) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn(*args, **kw)
    return time.perf_counter() - t0, out


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def read_json_lines(path: str) -> list[dict]:
    """Every JSON line of every part file under ``path``."""
    rows = []
    for root, _dirs, files in os.walk(path):
        for f in sorted(files):
            if f.startswith("part-"):
                with open(os.path.join(root, f), encoding="utf-8") as fh:
                    rows.extend(json.loads(line) for line in fh if line.strip())
    return rows
