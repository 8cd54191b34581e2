"""Launch, measurement and tracing helpers shared by the perfbench workloads.

Everything here lives in the benchmark: the dedup package is driven only
through its public entry points, and nothing is instrumented inside it.

- ``launch``: a core-capped ``local[N]`` session whose scratch space and
  temp files stay inside the benchmark's work directory, with the package
  shipped to the Python UDF workers as a zip (workers never depend on the
  caller's cwd or ``PYTHONPATH``).
- ``RssSampler``: peak resident memory of this process tree (driver, JVM,
  Python workers), sampled from ``/proc``.
- ``Tracer``: spans (name, start, end, parent, run id) kept in memory and
  written once at the end; a span may carry Spark status-store counters
  read through a job group set around the call.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import threading
import time
import zipfile
from contextlib import contextmanager

PKG = "cs588_data_science_bug_duplicate_detector_spark"
MB = 1024.0 * 1024.0


def core_count() -> int:
    """``local[N]`` width: at most 4, at most the CPUs this process may use,
    and at most ``SPARK_GRAFT_CPUS`` when that is set."""
    n = min(4, len(os.sched_getaffinity(0)))
    cap = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    if cap.isdigit() and int(cap) > 0:
        n = min(n, int(cap))
    return max(1, n)


def package_zip(root: str, out: str) -> str:
    """Zip the package sources for ``addPyFile``."""
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirs, files in os.walk(os.path.join(root, PKG)):
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    zf.write(full, os.path.relpath(full, root))
    return out


def pin_scratch(work: str) -> None:
    """Point every temp/scratch location of this process (and the JVM and
    workers it starts) into ``work``. Call before the first Spark import
    computes a temp dir."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the short-lived JVM spark-submit starts to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp


def launch(work: str, pyzip: str, cores: int):
    """Start the engine's session."""
    import sys

    from cs588_data_science_bug_duplicate_detector_spark.session import get_spark

    os.environ["PYSPARK_PYTHON"] = sys.executable
    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        "perfbench",
        cores=cores,
        extra_conf={
            # a fixed, pre-touched 1 GB heap: the JVM's resident size no
            # longer follows G1's timing-driven heap growth (peak memory
            # spread 1.1-1.5 GB at a 2 GB cap, 0.1 of the median at 1 GB
            # without pre-touch)
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms1g -XX:+AlwaysPreTouch",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addPyFile(pyzip)
    return spark


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for it (the Python workers
    are the JVM's children and end with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # the JVM may already be gone; the wait below is what matters
        pass
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def descendants(root: int) -> list[int]:
    """Pids of every live process below ``root``."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:  # exited while we listed it
                continue
    out = []
    for pid in parent:
        p = parent[pid]
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            out.append(pid)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared by the forked Python workers are
    split between them instead of being counted once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # exited between listing and reading
        pass
    return 0


class RssSampler:
    """Peak resident memory (PSS) of this process and all its descendants."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.peak_parts: list[int] = []  # per-process PSS at the peak, largest first
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            sizes = [_pss_bytes(p) for p in [me, *descendants(me)]]
            if sum(sizes) > self.peak:
                self.peak = sum(sizes)
                self.peak_parts = sorted(sizes, reverse=True)
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak / MB


def stage_counters(sc, group: str) -> dict:
    """Sum status-store stage data over every job run under ``group``.
    Skipped stages report zeros; a stage shared by two jobs counts once."""
    from py4j.protocol import Py4JJavaError

    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = list(tracker.getJobIdsForGroup(group))
    stage_ids: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "exec_s": 0.0,
           "shuffle_mb": 0.0, "spill_mb": 0.0}
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # stage never submitted: nothing to count
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks()
        out["exec_s"] += sd.executorRunTime() / 1000.0
        out["shuffle_mb"] += sd.shuffleWriteBytes() / MB
        out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
    return out


class Tracer:
    """In-memory spans; ``dump`` writes them once.

    ``span(name, sc=...)`` sets a Spark job group for the call and, on exit,
    attaches the status-store counters of the jobs it ran."""

    def __init__(self, run_id: str, cores: int):
        self.run_id = run_id
        self.cores = cores
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    def now(self) -> float:
        return time.perf_counter() - self._t0

    @contextmanager
    def span(self, name: str, sc=None, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": self.now(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        group = f"{self.run_id}:{sid}:{name}"
        if sc is not None:
            sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = self.now()
            self._stack.pop()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                c = stage_counters(sc, group)
                dur = rec["end"] - rec["start"]
                c["busy"] = c["exec_s"] / (dur * self.cores) if dur > 0 else 0.0
                rec["counters"] = c

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> None:
        """Record a span measured elsewhere (e.g. a streaming micro-batch),
        with times on this tracer's clock."""
        self.spans.append({"id": len(self.spans), "name": name, "run_id": self.run_id,
                           "parent": parent, "start": start, "end": end, **attrs})

    def total(self, name: str, key: str | None = None) -> float:
        """Sum of a span's duration (``key`` None) or of one counter, over
        every span of that name."""
        acc = 0.0
        for s in self.spans:
            if s["name"] == name and s["end"] is not None:
                acc += (s["end"] - s["start"]) if key is None else s.get("counters", {}).get(key, 0.0)
        return acc

    def coverage(self, start: float, end: float) -> float:
        """Share of [start, end] covered by top-level spans."""
        top = sum(s["end"] - s["start"] for s in self.spans
                  if s["parent"] is None and s["end"] is not None
                  and s["start"] >= start and s["end"] <= end)
        return top / (end - start) if end > start else 0.0

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra}, f, indent=1,
                      default=str)


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0
