"""Shared machinery of the benchmark: the run context, the Spark session,
memory sampling, the load process handle and the span recorder."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty list."""
    ordered = sorted(values)
    rank = max(1, min(len(ordered), int(-(-q * len(ordered) // 100))))
    return ordered[rank - 1]


# --- spans ---------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder, written out once at the end of a run.

    Disabled tracers record nothing, so untraced runs pay one attribute
    test per call site.
    """

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self.cost_s = 0.0  # time spent inside the recorder itself

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int | None:
        if not self.enabled:
            return None
        t = time.perf_counter()
        with self._lock:
            self.spans.append(Span(name, start, end, parent, self.run_id, attrs))
            idx = len(self.spans) - 1
            self.cost_s += time.perf_counter() - t
        return idx

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        idx = self.add(name, time.time(), time.time(), parent, **attrs)
        stack.append(idx)
        try:
            yield idx
        finally:
            stack.pop()
            self.spans[idx].end = time.time()

    def self_times(self) -> dict[int, float]:
        """Span index -> duration minus the part of it its children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for i, s in enumerate(self.spans):
            covered, cursor = 0.0, s.start
            for c in sorted(children.get(i, []), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[i] = max(0.0, (s.end - s.start) - covered)
        return out

    def write(self, path: Path, extra: dict) -> None:
        selfs = self.self_times()
        spans = [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "run_id": s.run_id, "self_s": selfs[i], **s.attrs}
            for i, s in enumerate(self.spans)
        ]
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": spans, **extra}, f, default=str)


# --- memory ----------------------------------------------------------------------


def descendants(root: int, exclude: set[int] = frozenset()) -> set[int]:
    """Pids of every live descendant of ``root`` outside ``exclude``
    (and outside their subtrees)."""
    parent_of: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        parent_of[int(entry)] = int(stat[stat.rindex(b")") + 2 :].split()[1])
    tree: set[int] = set()
    frontier = [root]
    while frontier:
        p = frontier.pop()
        for child, parent in parent_of.items():
            if parent == p and child not in tree and child not in exclude:
                tree.add(child)
                frontier.append(child)
    return tree


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched and the Python workers
    under it, and wait until every one of them has exited."""
    from pyspark import SparkContext

    children = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 15
    while children and time.monotonic() < deadline:
        children = {p for p in children if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for pid in children:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM
    and the Python workers), minus the processes in ``exclude``."""

    def __init__(self, period_s: float = 0.2) -> None:
        self.period_s = period_s
        self.exclude: set[int] = set()
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> int:
        total = 0
        for pid in descendants(os.getpid(), self.exclude) | {os.getpid()}:
            try:
                with open(f"/proc/{pid}/statm", "rb") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._sample())
            self._stop.wait(self.period_s)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, self._sample())
        return self.peak_bytes / 2**20


# --- load process ----------------------------------------------------------------


class LoadProcessHandle:
    """Starts ``loadproc.py`` and talks to it over its control paths."""

    def __init__(self, dump_path: Path) -> None:
        self.dump_path = dump_path
        self.proc = subprocess.Popen(
            [sys.executable, str(HERE / "loadproc.py"), "--dump", str(dump_path)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        line = self.proc.stdout.readline()
        if not line.startswith("PORT "):
            self.close()
            raise RuntimeError(f"load process did not start: {line!r}")
        self.port = int(line.split()[1])

    def url(self, path: str) -> str:
        return f"http://127.0.0.1:{self.port}{path}"

    def control(self, path: str, payload: dict | None = None) -> dict:
        req = urllib.request.Request(
            self.url(path), data=json.dumps(payload or {}).encode(), method="POST"
        )
        with urllib.request.urlopen(req, timeout=60) as resp:
            return json.loads(resp.read() or b"{}")

    def finish(self) -> dict:
        """Stop the process and return everything it recorded."""
        self.control("/control/finish")
        self.proc.wait(timeout=60)
        with open(self.dump_path, encoding="utf-8") as f:
            return json.load(f)

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


# --- the run ----------------------------------------------------------------------


@dataclass
class Run:
    """Everything one benchmark invocation shares across its phases."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    tiny: bool
    work: Path
    tracer: Tracer
    rss: RssSampler
    spark: object = None
    layer: dict = field(default_factory=dict)  # per-layer metrics
    notes: dict = field(default_factory=dict)  # diagnostics for the trace file

    def start_session(self):
        """``get_spark`` with every scratch location inside the work dir."""
        from atiesh_spark import get_spark

        cpus = len(os.sched_getaffinity(0))
        tmp = self.work / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        conf = {
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
            "spark.ui.showConsoleProgress": "false",
        }
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}", cpus=cpus,
                shuffle_partitions=cpus, extra_conf=conf,
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.get_spark_s"] = time.perf_counter() - t0
        return self.spark

    def next_job_id(self) -> int:
        """Id the next Spark job will get: runs a one-task probe job in
        its own job group and reads its id back."""
        sc = self.spark.sparkContext
        group = f"perfbench-probe-{time.monotonic_ns()}"
        sc.setJobGroup(group, "job id probe")
        try:
            sc.parallelize([0], 1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return max(sc.statusTracker().getJobIdsForGroup(group)) + 1

