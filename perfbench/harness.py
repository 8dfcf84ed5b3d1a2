"""Shared pieces of the benchmark: session start, statistics, memory and
the tracer that counts Spark jobs, stages and tasks per call.

Everything here observes the package from outside: it times calls into
public functions and reads ``SparkContext.statusTracker()`` by job group.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import resource
import statistics
import threading
import time
from dataclasses import dataclass

def sf_dir() -> str:
    """The sf0.1 star-schema tables: the ``sf0.1`` directory beside the
    smoke-test tables the repository's entry module names (TESTDATA.md)."""
    from __spark_entry__ import SMOKE_SF_DIR

    return os.path.join(os.path.dirname(SMOKE_SF_DIR), "sf0.1")


def start_session(run_dir: str):
    """The package's own session factory, with the console progress bar
    off and every work path inside ``run_dir``."""
    from konohadataplatform_spark.session import get_spark

    # initial heap = maximum heap (set by run.py): no heap resizing, which
    # would make the peak RSS follow GC timing
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.defaultJavaOptions": f"-Xms{heap}",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def peak_rss_mb(spark) -> float:
    """JVM high-water RSS (``VmHWM``) plus this Python process's own
    ``ru_maxrss``. The JVM is this process's child but is never reaped
    before exit, so ``RUSAGE_CHILDREN`` would not see it."""
    pid = spark.sparkContext._gateway.proc.pid
    jvm_kb = 0
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
                break
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def job_launch_ms(spark, k: int = 25) -> float:
    """Median wall time of ``k`` near-empty one-partition jobs, built on
    the JVM side so no Python worker takes part."""
    sc = spark.sparkContext
    rdd = sc._jsc.parallelize(sc._jvm.java.util.Collections.singletonList(0), 1)
    times = []
    for _ in range(k):
        t0 = time.perf_counter()
        rdd.count()
        times.append((time.perf_counter() - t0) * 1000.0)
    return median(times)


def span(tracer, name: str):
    """``tracer.span(name)``, or no span at all in an untraced run."""
    return tracer.span(name) if tracer else contextlib.nullcontext()


@dataclass
class Span:
    name: str
    start: float
    end: float
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    @property
    def secs(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory around calls into the package.

    Each span gets a fresh Spark job group (``getJobIdsForGroup`` is
    cumulative per name, so a reused name would mix calls) and its job,
    stage and task counts are read as soon as the call returns, before
    ``spark.ui.retainedJobs`` can evict them. Spans nest on a per-thread
    stack and a span counts only the jobs started while it was the
    innermost span of its thread, so the jobs of a call and everything
    under it are the sum over the spans inside its time window.
    ``overhead_s`` is the time the tracer itself spent setting groups
    and reading counts.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.status = self.sc.statusTracker()
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._seq = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def _set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    @contextlib.contextmanager
    def span(self, name: str):
        t_enter = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        group = f"perfbench-{next(self._seq)}"
        self._set_group(group)
        stack.append(group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self._set_group(stack[-1] if stack else None)
            span = Span(name, t0, t1)
            self._count(span, group)
            with self._lock:
                self.spans.append(span)
                self.overhead_s += (t0 - t_enter) + (time.perf_counter() - t1)

    def _count(self, span: Span, group: str) -> None:
        for jid in self.status.getJobIdsForGroup(group):
            span.jobs += 1
            info = self.status.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self.status.getStageInfo(sid)
                if st is None:
                    continue
                # skipped stages (shuffle output reused) ran no tasks
                if st.numCompletedTasks or st.numFailedTasks:
                    span.stages += 1
                span.tasks += st.numCompletedTasks
                span.failed_tasks += st.numFailedTasks

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a traced wrapper until ``unwrap``."""
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, owner.__dict__.get(attr, orig)))
        setattr(owner, attr, traced)

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ---- aggregation --------------------------------------------------
    def within(self, start: float, end: float, name: str | None = None):
        return [
            s for s in self.spans
            if start <= s.start and s.end <= end and (name is None or s.name == name)
        ]

    def total(self, spans, field: str) -> int:
        return sum(getattr(s, field) for s in spans)

    def inside(self, outer, field: str = "jobs") -> int:
        """``field`` summed over each span of ``outer`` and every span
        nested in its time window."""
        return sum(self.total(self.within(s.start, s.end), field) for s in outer)
