"""Measurement plumbing for the benchmark: spans, Spark job counts, stage
metrics, process-tree memory and the per-run drift record.

Everything here observes the engine from outside: spans wrap the calls the
benchmark makes (and the public `SnapshotStore` methods of the engine's own
store instance); job and task counts come from Spark's status tracker. No
engine code is changed and no Spark job is added by tracing.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager, nullcontext


def median(xs):
    return statistics.median(xs) if xs else None


class NullTracer:
    """Untraced runs: spans cost one attribute lookup and a nullcontext."""

    enabled = False

    def span(self, name, **attrs):
        return nullcontext()

    def request(self, name, **attrs):
        return nullcontext()


class Tracer:
    """In-memory spans (name, start, end, parent, request id) plus the
    Spark jobs each request launched. Spans are written out once, at the
    end of the run (`dump`)."""

    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._req = 0
        self._t0 = time.perf_counter()

    def _last_job_id(self) -> int:
        # the benchmark is a single client, so every job started between
        # two reads of the newest job id belongs to the request in between
        # (this also catches jobs the engine runs from its own threads)
        ids = self.sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    @contextmanager
    def span(self, name, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "req": self._req, "start": time.perf_counter() - self._t0,
               "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()

    @contextmanager
    def request(self, name, **attrs):
        """A root span with a fresh request id and its Spark job ids."""
        self._req += 1
        before = self._last_job_id()
        with self.span(name, **attrs) as rec:
            yield rec
        jobs = list(range(before + 1, self._last_job_id() + 1))
        rec["jobs"] = jobs
        rec["tasks"] = self._task_count(jobs)

    def _task_count(self, jobs) -> int:
        st = self.sc.statusTracker()
        n = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else []):
                si = st.getStageInfo(s)
                n += si.numTasks if si else 0
        return n

    def stage_metrics(self, jobs) -> dict:
        """Summed executor run time, GC time and shuffle write bytes over
        the stages of `jobs`, read from the application status store (the
        data the Spark REST API serves, without turning the UI on)."""
        store = self.sc._jsc.sc().statusStore()
        st = self.sc.statusTracker()
        run_ms = gc_ms = shuffle_w = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else []):
                seq = store.stageData(s, False, None, False, None)
                for i in range(seq.size()):
                    sd = seq.apply(i)
                    run_ms += sd.executorRunTime()
                    gc_ms += sd.jvmGcTime()
                    shuffle_w += sd.shuffleWriteBytes()
        return {"executor_run_s": run_ms / 1e3, "jvm_gc_s": gc_ms / 1e3,
                "shuffle_write_bytes": shuffle_w}

    def wrap_store(self, store) -> None:
        """Span every call of the store's public read methods. The engine
        calls them through `self.store`, so instance attributes shadow the
        class methods for this store only."""
        for name in ("current_version", "meta", "table_bytes", "tables"):
            fn = getattr(store, name)

            def traced(*a, _fn=fn, _name=f"storage.{name}", **kw):
                with self.span(_name):
                    return _fn(*a, **kw)

            setattr(store, name, traced)

    def durations(self, name) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict:
        """Per span name: calls and self time (duration minus the part of
        the interval its child spans cover; children never overlap because
        the benchmark is single-threaded)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s in self.spans:
            d = out.setdefault(s["name"], {"calls": 0, "self_s": 0.0})
            d["calls"] += 1
            d["self_s"] += (s["end"] - s["start"]) - child[s["id"]]
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _tree_pids(root: int) -> list[int]:
    pids, todo = [], [root]
    while todo:
        p = todo.pop()
        pids.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            pass  # the process ended between listing and reading
    return pids


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared between forked Python workers
    count once across the tree, where summed RSS would count them per
    process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError):
        pass  # the process ended while being read
    return 0


class MemSampler:
    """Peak summed PSS of this process and all its descendants (driver
    Python, the JVM and the Python workers), sampled from /proc while not
    paused (the benchmark pauses it for its own correctness checks)."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self.samples = 0
        self._stop = threading.Event()
        self._active = threading.Event()
        self._active.set()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def pause(self):
        self._active.clear()

    def resume(self):
        self._active.set()

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            if self._active.is_set():
                pss = sum(_pss_bytes(p) for p in _tree_pids(me))
                if self._active.is_set():  # not paused while it was read
                    self.peak = max(self.peak, pss)
                    self.samples += 1
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def dispatch_floor_s(spark, reps: int = 3) -> float:
    """Median wall of a trivial one-task Python job: the per-job floor a
    single search cannot go under."""
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.range(1, numPartitions=1).mapInPandas(lambda it: it, "id long").collect()
        walls.append(time.perf_counter() - t0)
    return median(walls)


def job_floor_s(spark) -> float:
    """Wall of one trivial one-task Spark job that starts no Python worker
    and runs no engine code: the unit the end-to-end latencies are
    reported in."""
    t0 = time.perf_counter()
    spark.range(1, numPartitions=1).collect()
    return time.perf_counter() - t0


def numpy_calibration_s(reps: int = 5) -> float:
    """Median wall of a fixed numpy sort: a host-speed reference that does
    not touch Spark."""
    import numpy as np

    a = np.random.default_rng(0).random(1_000_000)
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        np.sort(a)
        walls.append(time.perf_counter() - t0)
    return median(walls)


def cpu_ticks() -> list[int]:
    """The aggregate CPU line of /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    `cpu_ticks()` readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d[:8]))


def drift_record() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {"nproc": len(os.sched_getaffinity(0)),
            "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__, "loadavg": list(os.getloadavg())}
