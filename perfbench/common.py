"""Shared plumbing for the benchmark workloads: the pinned session,
repeated set-up, spans, Spark's own counters, and summary statistics.

The package under test is not instrumented: per-layer numbers come from
spans recorded in the benchmark's files around each call into it, and
from counters Spark already keeps.
"""

from __future__ import annotations

import json
import math
import os
import platform
import shutil
import statistics
import tempfile
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Cores the pinned session uses, local[N]: two, leaving the rest of a
# 4-core host to the JVM's own threads and the Python workers (NOTES.md).
N_CORES = max(1, min(2, os.cpu_count() or 1))


def pin_layout(cores: int) -> None:
    """Pin the session layout through the package's own knobs:
    local[cores] and as many shuffle partitions, a 2g driver heap, and the
    checkout on the Python workers' path (the mapInPandas operators
    import the package on the executors)."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_SHUFFLE"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    path = os.environ.get("PYTHONPATH", "")
    if ROOT not in path.split(os.pathsep):
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def confine_temp(path: str) -> None:
    """Point every temporary file of this process, the JVM it launches
    and Spark's local dirs into ``path``, so a run writes only inside the
    checkout."""
    fresh_dir(path)
    os.environ["TMPDIR"] = path
    os.environ["SPARK_LOCAL_DIRS"] = path
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={path} -XX:-UsePerfData' pyspark-shell")
    tempfile.tempdir = None  # re-read TMPDIR


def warm_action(spark) -> None:
    """The first action of a session: a small shuffle, so executors,
    codegen and the shuffle path are all up."""
    spark.range(0, 20_000, 1, N_CORES).selectExpr("id % 97 AS k").groupBy("k").count().collect()


def start_session(cores: int = N_CORES):
    """get_spark on the pinned layout plus the first warm action; returns
    (spark, seconds in get_spark, seconds in the first action)."""
    from pulsar_ingestion_spark.session import get_spark

    pin_layout(cores)
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    warm_action(spark)
    return spark, t1 - t0, time.perf_counter() - t1


def restart_session(spark, cores: int = N_CORES, event_log_dir: str | None = None):
    """Stop the session and start a new one on the running JVM (the
    JVM-launch part of a cold start is only paid once per process).
    ``event_log_dir`` turns Spark's event log on for the new context."""
    from pyspark import SparkContext

    spark.stop()
    props = SparkContext._jvm.java.lang.System
    if event_log_dir is not None:
        props.setProperty("spark.eventLog.enabled", "true")
        props.setProperty("spark.eventLog.dir", "file://" + event_log_dir)
        props.setProperty("spark.eventLog.rolling.enabled", "false")
        props.setProperty("spark.eventLog.compress", "false")
    else:
        props.clearProperty("spark.eventLog.enabled")
    return start_session(cores)


def shutdown_jvm() -> None:
    """Stop the JVM this process launched and wait for it to exit (its
    Python workers are its children and go with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def layout(spark, load_at_start: float) -> dict:
    """The layout every result records."""
    return {
        "master": spark.sparkContext.master,
        "cores": N_CORES,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "nproc": os.cpu_count(),
        "loadavg_1m_at_start": load_at_start,
        "spark": spark.version,
        "python": platform.python_version(),
    }


# ---------------------------------------------------------------- statistics


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else float("nan")


def percentile(xs, q: float):
    """Nearest-rank percentile; None unless at least ten samples lie
    beyond it (a tail figure from fewer is noise)."""
    if not xs:
        return None
    s = sorted(xs)
    idx = min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))
    return s[idx] if len(s) - 1 - idx >= 10 else None


# ---------------------------------------------------------------- tracing


class Tracer:
    """In-memory spans (name, start, end, parent, trace id), written out
    once at the end.  Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, trace_id: str = "", **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "trace": trace_id, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# ---------------------------------------------------------------- Spark counters


def group_counts(spark, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under job group ``group``.  The status
    tracker keeps only the last spark.ui.retainedJobs jobs, so read this
    right after the operation."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in (info.stageIds if info else []):
            stage = st.getStageInfo(sid)
            tasks += stage.numTasks if stage else 0
    return len(jobs), tasks


def event_log_by_group(log_dir: str) -> dict[str, dict]:
    """Per job group: executor run time, GC time (s) and shuffle bytes
    written, from the task-end events of every event log in ``log_dir``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    if group is None or not m:
                        continue
                    acc = out.setdefault(group, {"executor_run_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0})
                    acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return out


def peak_rss_mb() -> float:
    """VmHWM of this process plus every descendant (the JVM and Python
    workers), in MB."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def dir_bytes(path: str, suffix: str = "") -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(suffix) and not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(base, f))
    return total


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
