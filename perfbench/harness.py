"""Measurement plumbing shared by the workloads: the Spark session the
benchmark owns, a peak-RSS sampler over the benchmark's process tree, an
in-memory span recorder, and the timed snapshot store."""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

# local[3] on the 4-core box it was sized for: the fourth core is left to
# the Spark driver thread (planning, codegen) and the JIT compiler threads,
# which otherwise compete with the tasks and make runs noisier.
CORES = 3
HEAP = "3g"


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total


# ------------------------------------------------------------------ session
def start_spark(work: str, event_log: bool):
    """local[CORES] session with a heap that fits a 15 GB box; every
    scratch path the JVM writes (shuffle, spill, java.io.tmpdir, event
    log) lives under `work`."""
    from commoncrawl_fetcher_lite_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    jtmp = os.path.join(work, "jtmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(jtmp, exist_ok=True)
    # inherited by both JVMs spark-submit starts (its launcher and the
    # driver) and by the Python workers; SPARK_LOCAL_DIRS would otherwise
    # override spark.local.dir, and -XX:-UsePerfData keeps the JVMs from
    # writing hsperfdata files outside `work`
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = jtmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData"
    conf = {
        "spark.driver.memory": HEAP,
        "spark.local.dir": local,
        # a pre-touched fixed heap keeps peak RSS from depending on when
        # the collector happened to grow the heap
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.eventLog.enabled": "true" if event_log else "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        d = os.path.join(work, "eventlog")
        os.makedirs(d, exist_ok=True)
        conf["spark.eventLog.dir"] = "file://" + d
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return get_spark("perfbench", cores=CORES, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched and the Python workers
    the JVM forked, and wait until every one of them has exited."""
    import signal
    import subprocess

    from pyspark import SparkContext

    me = os.getpid()
    started = [p for p in descendants(me) if p != me]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    # the workers' daemon exits once the JVM is gone, but it is no longer
    # our descendant then: poll the recorded pids
    deadline = time.monotonic() + 30
    for pid in started:
        while _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
            time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# ---------------------------------------------------------------- peak RSS
def _children(pid: int) -> list[int]:
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(x) for x in f.read().split())
    except OSError:
        pass
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


_TICK = os.sysconf("SC_CLK_TCK")


def _age_s(pid: int, uptime: float) -> float:
    try:
        with open(f"/proc/{pid}/stat") as f:
            start = int(f.read().rsplit(")", 1)[1].split()[19])
    except (OSError, IndexError, ValueError):
        return 0.0
    return uptime - start / _TICK


def descendants(root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def tree_rss_kb(root: int, min_age_s: float = 0.5) -> int:
    """Summed RSS of `root` and its descendants older than `min_age_s`. A
    process the JVM forks to run a command shares the JVM's address space
    (and reports its RSS) until it execs a few milliseconds later; counting
    it would double the JVM."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return sum(
        _rss_kb(pid) for pid in descendants(root)
        if pid == root or _age_s(pid, uptime) >= min_age_s
    )


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    (JVM, Python workers) every `period` seconds; keeps the peak."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_rss_kb(me))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ------------------------------------------------------------------- spans
@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with Spark event-log times
    end: float
    parent: int | None
    op: int
    counts: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing, so the
    untraced runs pay only a no-op context manager per layer call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op = 0
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(name, time.time(), 0.0,
                 self._stack[-1] if self._stack else None, self.op)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s.__dict__}) + "\n")

    def durations(self, name: str) -> dict[int, float]:
        """op id -> summed duration of spans called `name` in that op."""
        out: dict[int, float] = {}
        for s in self.spans:
            if s.name == name:
                out[s.op] = out.get(s.op, 0.0) + (s.end - s.start)
        return out

    def self_time(self, name: str) -> dict[int, float]:
        """Like durations, minus the time its direct child spans cover."""
        idx = {i for i, s in enumerate(self.spans) if s.name == name}
        out = self.durations(name)
        for s in self.spans:
            if s.parent in idx:
                out[s.op] -= s.end - s.start
        return out


# ------------------------------------------------------------ timed store
def timed_store_class():
    """SnapshotStore subclass that records each commit's duration, bytes,
    compactions and frontier read amplification, and each GC's duration.
    Built lazily so importing this module needs no engine."""
    from commoncrawl_fetcher_lite_spark.frontier.checkpoint import SnapshotStore

    class TimedStore(SnapshotStore):
        def __init__(self, root, spark, tracer: Tracer, **kw):
            super().__init__(root, spark, **kw)
            self.tracer = tracer
            self.commits: list[dict] = []
            self.gc_s: list[float] = []

        def commit(self, *args, **kw) -> int:
            t = time.perf_counter()
            with self.tracer.span("checkpoint.commit"):
                snap = super().commit(*args, **kw)
            dt = time.perf_counter() - t
            meta = self.manifest()["snapshots"][str(snap)]
            tables = meta["tables"]
            self.commits.append(
                {
                    "snap": snap,
                    "s": dt,
                    "bytes": meta["metrics"].get("bytes_written", 0),
                    "compactions": sum(
                        1 for t in tables.values()
                        if t.get("path", "").endswith("compacted")
                        and t.get("seq") == snap
                    ),
                    "frontier_read_amp": tables.get("frontier", {}).get(
                        "read_amplification", 1.0
                    ),
                }
            )
            return snap

        def expire_snapshots(self, keep_last: int = 2) -> list[int]:
            t = time.perf_counter()
            with self.tracer.span("checkpoint.gc"):
                out = super().expire_snapshots(keep_last)
            self.gc_s.append(time.perf_counter() - t)
            return out

    return TimedStore

