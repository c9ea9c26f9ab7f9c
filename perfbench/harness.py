"""Run-time plumbing shared by the workloads: machine-fitted Spark
environment, set-up timing, RSS sampling, spans with per-span Spark job
counts, and percentiles."""

from __future__ import annotations

import os
import threading
import time
import uuid
from contextlib import contextmanager

#: driver heap for the benchmark; the program's own default (16g) is more
#: than a 15 GB machine can hold next to the Python workers
DRIVER_MEMORY = "2g"


def fit_environment(root: str, work: str) -> dict[str, str]:
    """Settings the program reads from the environment, fitted to this
    machine. Returns the values that were set, for the run's output."""
    cpus = str(len(os.sched_getaffinity(0)))
    local_dirs = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local_dirs, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_LOCAL_DIRS": local_dirs,
    }
    os.environ.update(env)
    # Python workers import the program and the benchmark modules; every
    # temp file (Python's and the JVM's) stays inside the checkout
    paths = [root, os.path.join(root, "perfbench")]
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join(paths + ([old] if old else []))
    os.environ["TMPDIR"] = tmp
    # no hsperfdata file: HotSpot writes it under /tmp whatever the tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return env


def start_spark():
    """`session.get_spark` plus the lazy set-up every user pays once: the
    first job. Returns (spark, seconds)."""
    t0 = time.monotonic()
    from brontes_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(8).repartition(2).count()
    return spark, time.monotonic() - t0


def stop_spark(spark) -> None:
    """Stop the session, shut its JVM down and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway  # noqa: SLF001
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=120)
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of (Python RSS + driver JVM RSS), sampled every `period` s."""

    def __init__(self, jvm_pid: int, period: float = 0.1):
        self.pids = [os.getpid(), jvm_pid]
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in self.pids))
            self._stop.wait(self.period)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in self.pids))

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())  # noqa: SLF001


class Tracer:
    """In-memory spans around calls into the program.

    Each span runs its Spark jobs under its own job group, so the public
    StatusTracker yields the jobs, stages and tasks that span ran. A
    disabled tracer records nothing and sets no job group."""

    def __init__(self, spark, enabled: bool, run_id: str):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        with self._lock:
            idx = len(self.spans)
            rec = dict(name=name, run_id=self.run_id, id=idx,
                       parent=self._stack[-1] if self._stack else None,
                       group=f"perfbench-{self.run_id}-{idx}")
            self.spans.append(rec)
            self._stack.append(idx)
        prev = (self.sc.getLocalProperty("spark.jobGroup.id"),
                self.sc.getLocalProperty("spark.job.description"))
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self.sc.setLocalProperty("spark.jobGroup.id", prev[0])
            self.sc.setLocalProperty("spark.job.description", prev[1])
            with self._lock:
                self._stack.remove(idx)

    def collect_counts(self) -> None:
        """Fill jobs/stages/tasks per span from the StatusTracker."""
        st = self.sc.statusTracker()
        for rec in self.spans:
            jobs = st.getJobIdsForGroup(rec["group"])
            stages: set[int] = set()
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            n_stages = n_tasks = 0
            for s in stages:
                si = st.getStageInfo(s)
                if si is not None and si.numCompletedTasks > 0:
                    n_stages += 1
                    n_tasks += si.numCompletedTasks
            rec.update(jobs=len(jobs), stages=n_stages, tasks=n_tasks)

    def descendants(self, span_id: int) -> list[dict]:
        kids = [c for c in self.spans if c["parent"] == span_id]
        return kids + [d for c in kids for d in self.descendants(c["id"])]

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it that child spans cover."""
        out = {}
        for rec in self.spans:
            kids = sorted((c["start"], c["end"]) for c in self.spans
                          if c["parent"] == rec["id"])
            covered, cur_s, cur_e = 0.0, None, None
            for s, e in kids:
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[rec["id"]] = (rec["end"] - rec["start"]) - covered
        return out


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]
