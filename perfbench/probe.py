"""Measurement from outside the program: a /proc sampler for the Spark
process tree, a reader for Spark's SQL and stage status stores, and an
in-memory span recorder.

Nothing here calls into ``elb_pipeline``; every number is read from the
operating system or from the session's own status stores, which Spark
fills even with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import contextlib
import os
import re
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------------------------
# process tree: the Spark JVM plus its Python daemon and workers
# ---------------------------------------------------------------------------


def _stat(pid: int) -> tuple[int, float, int] | None:
    """(ppid, cpu seconds incl. reaped children, rss bytes) of one pid."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    # utime, stime, cutime, cstime: a worker that exits and is reaped moves
    # its time into its parent's c*time, so the tree total stays monotone.
    cpu = sum(int(x) for x in fields[11:15]) / _TICK
    rss = int(fields[21]) * _PAGE
    return ppid, cpu, rss


def host_steal_s() -> float:
    """CPU seconds the hypervisor has given to other machines instead of
    this one (the ``steal`` column of /proc/stat), summed over all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


class NetClock:
    """Elapsed time, raw and net of hypervisor steal.

    On a shared virtual machine the hypervisor takes CPU time away in
    bursts (measured here at 0-25% of all CPUs over a one-minute run),
    which stretches wall time by an amount unrelated to the program. The
    net time subtracts the stolen CPU seconds divided by the machine's CPU
    count: the elapsed time had every CPU stayed available, assuming the
    steal fell evenly on the CPUs the work was using."""

    def __init__(self):
        self._t = time.perf_counter()
        self._steal = host_steal_s()

    def raw(self) -> float:
        return time.perf_counter() - self._t

    def net(self) -> float:
        stolen = host_steal_s() - self._steal
        return max(self.raw() - stolen / os.cpu_count(), 0.0)


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


def tree_pids(root: int) -> list[int]:
    """``root`` and its descendants, from one scan of /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            s = _stat(int(name))
            if s is not None:
                children.setdefault(s[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class TreeSampler:
    """CPU time and resident memory of the Spark JVM's process tree.

    CPU counts every process in the tree (a worker that exits and is reaped
    moves its time into its parent's, so the total stays monotone). RSS
    counts the JVM and its Python processes only: a helper the JVM forks
    reports the JVM's whole resident set until it execs, which would count
    the heap two or three times. One harness thread samples RSS every
    ``interval`` seconds, reading only the known tree and rescanning /proc
    for new processes once a second; ``begin()``/``end()`` bracket a call."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root = root
        self.interval = interval
        self._pids = tree_pids(root)
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _usage(self, rescan: bool) -> tuple[float, int]:
        if rescan:
            self._pids = tree_pids(self.root)
        cpu, rss = 0.0, 0
        for pid in self._pids:
            s = _stat(pid)
            if s is None:
                continue
            cpu += s[1]
            if pid == self.root or _is_python(pid):
                rss += s[2]
        return cpu, rss

    def _run(self) -> None:
        n = 0
        while not self._stop.wait(self.interval):
            n += 1
            with self._lock:
                _, rss = self._usage(rescan=n % 10 == 0)
                self._peak = max(self._peak, rss)

    def begin(self) -> float:
        with self._lock:
            cpu, rss = self._usage(rescan=True)
            self._peak = rss
        return cpu

    def end(self, cpu0: float) -> tuple[float, float]:
        """(cpu seconds since ``begin``, peak RSS in MiB during the call)."""
        with self._lock:
            cpu, rss = self._usage(rescan=True)
            peak = max(self._peak, rss)
        return cpu - cpu0, peak / 2**20

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """Spans kept in memory: name, start, end (epoch seconds, comparable with
    Spark's execution times) and parent."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = self.add(name, time.time(), None,
                       self._stack[-1] if self._stack else None, **attrs)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def add(self, name: str, start: float, end, parent, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                           "parent": parent, **attrs})
        return sid


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6}
_NUM = re.compile(r"(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*(B|KiB|MiB|GiB|TiB|ms|s|m|h)?\b")


def metric_value(text: str | None) -> float:
    """Parse a status-store metric string: '1,234', '12.0 MiB', '35 ms',
    or 'total (min, med, max ...)\\n1.9 s (...)' (the total is taken).
    Sizes come back in bytes, timings in milliseconds."""
    if not text:
        return 0.0
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)


def _runs_python(node_name: str) -> bool:
    return "Python" in node_name or "Arrow" in node_name or "Pandas" in node_name


class SparkStore:
    """Reads finished SQL executions (plan graph + metrics) and their
    stages' task statistics after each call."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = spark.sparkContext._jsc.sc().statusStore()
        self._gw = spark.sparkContext._gateway
        self._jvm = jvm
        self.mark = self.max_id()

    def _list(self, seq):
        return list(self._conv.asJava(seq))

    def max_id(self) -> int:
        ids = [e.executionId() for e in self._list(self._sql.executionsList())]
        return max(ids, default=-1)

    def new_executions(self, timeout: float = 30.0, python_only: bool = False) -> list[dict]:
        """All SQL executions submitted since the last call, once every one
        of them has completed, with their operators' metrics; with
        ``python_only``, only the operators that run Python and no stages
        (each metric read is a round trip to the JVM)."""
        deadline = time.monotonic() + timeout
        while True:
            execs = [e for e in self._list(self._sql.executionsList())
                     if e.executionId() > self.mark]
            if all(e.completionTime().isDefined() for e in execs):
                break
            if time.monotonic() > deadline:
                raise TimeoutError("SQL executions did not complete")
            time.sleep(0.05)
        out = [self._execution(e, python_only)
               for e in sorted(execs, key=lambda e: e.executionId())]
        if execs:
            self.mark = max(e.executionId() for e in execs)
        return out

    def _execution(self, e, python_only: bool = False) -> dict:
        eid = e.executionId()
        values = self._conv.asJava(self._sql.executionMetrics(eid))
        nodes = []
        for n in self._list(self._sql.planGraph(eid).allNodes()):
            if python_only and not _runs_python(n.name()):
                continue
            metrics = {}
            for m in self._list(n.metrics()):
                metrics[m.name()] = metric_value(values.get(m.accumulatorId()))
            nodes.append({"name": n.name().strip(), "desc": n.desc(), "metrics": metrics})
        job_ids = list(self._conv.asJava(e.jobs()).keySet())
        return {
            "id": eid,
            "description": e.description(),
            "plan": e.physicalPlanDescription(),
            # epoch milliseconds
            "start_ms": e.submissionTime(),
            "end_ms": e.completionTime().get().getTime(),
            "nodes": nodes,
            "stages": [] if python_only else self._stages(job_ids),
        }

    def _stages(self, job_ids) -> list[dict]:
        """Task counts and skew (max / median executor run time) of the
        stages the execution's jobs ran; skipped stages have no tasks."""
        q = self._gw.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        stages = []
        for jid in job_ids:
            for sid in self._list(self._app.job(int(jid)).stageIds()):
                sd = self._app.lastStageAttempt(int(sid))
                if sd.numCompleteTasks() == 0:
                    continue
                skew = 1.0
                dist = self._app.taskSummary(int(sid), sd.attemptId(), q)
                if dist.isDefined():
                    med, mx = list(self._conv.asJava(dist.get().executorRunTime()))
                    if med > 0 and mx >= 100:  # sub-100 ms stages are noise
                        skew = mx / med
                stages.append({"id": int(sid), "tasks": sd.numCompleteTasks(),
                               "failed": sd.numFailedTasks(), "skew": skew})
        return stages
