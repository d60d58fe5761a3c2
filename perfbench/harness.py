"""Measurement plumbing shared by the workloads.

Nothing here knows about a particular workload: process-tree CPU time,
host isolation evidence, in-memory trace spans, Spark
job-group counters and the traced run's REST harvest, and the Spark
session's start and stop.
"""

from __future__ import annotations

import contextlib
import json
import os
import resource
import signal
import subprocess
import time
import urllib.request
from dataclasses import dataclass, field
from typing import Dict, List, Optional

CLK_TCK = os.sysconf("SC_CLK_TCK")
NCPU = os.cpu_count() or 1


# -- process tree and host -----------------------------------------------

def _proc_stat(pid: int) -> Optional[List[str]]:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm (field 2) may hold spaces; everything after the last ')' splits
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> List[int]:
    """Pids of every live process below ``root`` (not ``root`` itself)."""
    children: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _proc_stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, stack = [], [root]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def tree_cpu_s(root: Optional[int] = None) -> float:
    """utime+stime+cutime+cstime summed over ``root`` and its live
    descendants: the driver, the JVM and Spark's Python workers. A child
    that exits moves its time into its parent's cutime, so the sum is
    conserved while the tree lives."""
    root = os.getpid() if root is None else root
    ticks = 0
    for pid in [root] + descendants(root):
        st = _proc_stat(pid)
        if st is not None:
            # fields 14..17 of /proc/<pid>/stat; st starts at field 3
            ticks += sum(int(x) for x in st[11:15])
    return ticks / CLK_TCK


def host_cpu() -> Dict[str, float]:
    """Aggregate host CPU seconds from /proc/stat: busy and steal."""
    with open("/proc/stat") as fh:
        parts = fh.readline().split()[1:]
    v = [int(x) for x in parts] + [0] * 10
    user, nice, system, idle, iowait, irq, softirq, steal = v[:8]
    return {"busy_s": (user + nice + system + irq + softirq) / CLK_TCK,
            "steal_s": steal / CLK_TCK}


def loadavg1() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def idle_gate(max_wait_s: float = 2.0, window_s: float = 0.5,
              max_foreign: float = 0.5) -> Dict[str, float]:
    """Wait (bounded) until CPU work outside this process tree, plus
    CPU time stolen by the hypervisor, is less than ``max_foreign`` of
    the machine's CPUs. Returns what it saw; a run that starts on a busy
    host is marked, not refused."""
    t0 = time.perf_counter()
    while True:
        h0, c0 = host_cpu(), tree_cpu_s()
        time.sleep(window_s)
        h1, c1 = host_cpu(), tree_cpu_s()
        foreign = max(0.0, (h1["busy_s"] - h0["busy_s"]) - (c1 - c0)) \
            + (h1["steal_s"] - h0["steal_s"])
        share = foreign / (window_s * NCPU)
        waited = time.perf_counter() - t0
        if share < max_foreign or waited >= max_wait_s:
            return {"gate_wait_s": waited, "foreign_cpu_share": share}


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def process_age_s() -> float:
    """Seconds since this process started (from /proc/self/stat)."""
    st = _proc_stat(os.getpid())
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(st[19]) / CLK_TCK


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def file_sizes(path: str) -> Dict[str, int]:
    """Relative path -> size of every file under ``path``."""
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(dirpath, f)
            try:
                out[os.path.relpath(full, path)] = os.path.getsize(full)
            except OSError:
                pass
    return out


# -- tracing ---------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: Optional[int]
    op: Optional[int]


@dataclass
class Tracer:
    """In-memory spans around calls into the engine's layers. Disabled,
    ``span`` costs one attribute test; enabled, spans are kept in memory
    and summarised when the run ends."""

    enabled: bool = False
    spans: List[Span] = field(default_factory=list)
    _stack: List[int] = field(default_factory=list)
    op: Optional[int] = None

    def span(self, name: str):
        return _SpanCtx(self, name)

    @contextlib.contextmanager
    def paused(self):
        """No spans inside: the benchmark's own bookkeeping between ops
        calls the same public functions the traced run wraps."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def discard(self, first: int, end: int) -> None:
        """Spans ``first`` to ``end`` no longer count for their op: they
        belong to a measurement of it that was not kept."""
        for s in self.spans[first:end]:
            s.op = None

    def self_ms_by_layer(self) -> Dict[str, float]:
        """Total self time (span minus its children) per layer, where the
        layer is the span name's prefix before the first dot. Only spans
        inside timed ops count."""
        child_ms: Dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None and s.op is not None:
                child_ms[s.parent] = child_ms.get(s.parent, 0.0) \
                    + (s.end - s.start) * 1e3
        out: Dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s.op is None:        # set-up and verification
                continue
            layer = s.name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s.end - s.start) * 1e3 \
                - child_ms.get(i, 0.0)
        return out

    def durations_ms(self, name: str) -> List[float]:
        return [(s.end - s.start) * 1e3 for s in self.spans
                if s.name == name and s.op is not None]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


class _SpanCtx:
    __slots__ = ("tracer", "name", "t0", "idx")

    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        tr = self.tracer
        if tr.enabled:
            self.idx = len(tr.spans)
            parent = tr._stack[-1] if tr._stack else None
            tr.spans.append(Span(self.name, 0.0, 0.0, parent, tr.op))
            tr._stack.append(self.idx)
            self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        tr = self.tracer
        if tr.enabled:
            end = time.perf_counter()
            s = tr.spans[self.idx]
            s.start, s.end = self.t0, end
            tr._stack.pop()
        return False


# -- Spark -----------------------------------------------------------------

def start_spark(work_dir: str, traced: bool):
    """One local session sized to the machine. The UI (and with it the
    REST API) is on only for the traced run."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work_dir, "spark-tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = min(4, NCPU)
    b = (SparkSession.builder.master(f"local[{cpus}]")
         .appName("perfbench")
         .config("spark.sql.shuffle.partitions", str(cpus))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.driver.memory", "2g")
         .config("spark.local.dir", tmp)
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
         .config("spark.sql.warehouse.dir",
                 os.path.join(work_dir, "warehouse"))
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.ui.enabled", "true" if traced else "false"))
    if traced:
        b = (b.config("spark.ui.port", "0")
             .config("spark.ui.retainedJobs", "100000")
             .config("spark.ui.retainedStages", "100000")
             .config("spark.sql.ui.retainedExecutions", "100000"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout_s: float = 30.0) -> None:
    """Stop the session, the JVM it launched and every process below
    this one, and wait until each has ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:    # gateway already gone: nothing to close
            pass
    if proc is not None:
        try:
            proc.stdin.close()   # the JVM exits when its stdin closes
        except OSError:
            pass
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    reap_descendants(timeout_s)


def reap_descendants(timeout_s: float = 30.0) -> None:
    """TERM, then after ``timeout_s`` KILL, every process below this one
    until none is left (gives up 10 s after the KILLs, so a run still
    ends in bounded time)."""
    deadline = time.monotonic() + timeout_s
    sig = signal.SIGTERM
    while True:
        left = descendants(os.getpid())
        if not left:
            return
        if time.monotonic() > deadline + 10:
            raise RuntimeError(f"processes {left} outlived SIGKILL")
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)


class JobCounter:
    """Per-op Spark job, stage and task counts from the status tracker.
    Each measurement of an op runs under its own job group, named
    ``<prefix>-<op>-<try>``; counts are exact for a seed."""

    def __init__(self, spark, prefix: str) -> None:
        self.sc = spark.sparkContext
        self.prefix = prefix

    def group(self, op_id: int, attempt: int) -> str:
        return f"{self.prefix}-{op_id}-{attempt}"

    def begin(self, op_id: int, attempt: int) -> None:
        gid = self.group(op_id, attempt)
        self.sc.setJobGroup(gid, gid, interruptOnCancel=False)

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def counts(self, op_id: int, attempt: int) -> Dict[str, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(self.group(op_id, attempt))
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read().decode())


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _sql_metric_value(text: str) -> float:
    """Total from a SQL UI metric string: ``"12"``, ``"1.5 MiB"``, or
    ``"total (min, med, max ...)\\n3.2 MiB (...)"``; sizes in bytes,
    times in seconds."""
    line = text.strip().splitlines()[-1] if "\n" in text else text.strip()
    tok = line.split("(")[0].strip().replace(",", "").split()
    if not tok:
        return 0.0
    try:
        val = float(tok[0])
    except ValueError:
        return 0.0
    if len(tok) > 1 and tok[1] in _UNITS:
        val *= _UNITS[tok[1]]
    return val


def harvest_rest(spark) -> Dict[str, Dict[str, float]]:
    """Per job group: stage metrics from ``/stages`` and Python/Arrow
    SQL metrics from ``/sql?details=true`` (traced run only)."""
    sc = spark.sparkContext
    url = sc.uiWebUrl
    if not url:
        return {}
    port = url.rsplit(":", 1)[1]
    base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"
    jobs = _get_json(f"{base}/jobs")
    stages = {s["stageId"]: s for s in _get_json(f"{base}/stages")
              if s.get("status") == "COMPLETE"}
    sqls = _get_json(f"{base}/sql?details=true&length=100000")
    group_of_job = {j["jobId"]: j.get("jobGroup") for j in jobs}
    out: Dict[str, Dict[str, float]] = {}

    def acc(group, key, v):
        d = out.setdefault(group, {})
        d[key] = d.get(key, 0.0) + v

    for j in jobs:
        g = j.get("jobGroup")
        if not g:
            continue
        for sid in j.get("stageIds", []):
            s = stages.get(sid)
            if s is None:
                continue
            acc(g, "input_bytes", s.get("inputBytes", 0))
            acc(g, "input_records", s.get("inputRecords", 0))
            acc(g, "shuffle_bytes", s.get("shuffleReadBytes", 0)
                + s.get("shuffleWriteBytes", 0))
            acc(g, "run_ms", s.get("executorRunTime", 0))
            acc(g, "cpu_ms", s.get("executorCpuTime", 0) / 1e6)
            acc(g, "gc_ms", s.get("jvmGcTime", 0))
    for ex in sqls:
        ids = (ex.get("successJobIds", []) + ex.get("failedJobIds", [])
               + ex.get("runningJobIds", []))
        g = next((group_of_job.get(i) for i in ids
                  if group_of_job.get(i)), None)
        if g is None:
            continue
        for node in ex.get("nodes", []):
            for m in node.get("metrics", []):
                name = m.get("name", "").lower()
                v = _sql_metric_value(str(m.get("value", "")))
                if "sent to python" in name:
                    acc(g, "arrow_bytes_sent", v)
                elif "returned from python" in name:
                    acc(g, "arrow_bytes_returned", v)
                elif name == "time to run python workers":
                    acc(g, "python_s", v)
    return out
