"""Session pinning, memory sampling, spans and Spark counters.

Spans are timed here, around calls into the engine's public functions;
Spark jobs inside a span carry the span name as their job group. Spark's
own event log (turned on through launch conf, only in traced runs)
supplies per-task counters, which are attributed to spans by job group.
"""

from __future__ import annotations

import glob
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

DRIVER_MEM = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: str, conf_dir: str, event_dir: str | None) -> None:
    """Everything the session reads at launch, identical on every commit:
    local[nproc] with nproc shuffle partitions, a fixed driver heap, and
    all scratch space under `work`."""
    n = nproc()
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local, conf_dir):
        os.makedirs(d, exist_ok=True)
    conf = {
        # the heap is committed and touched whole at start, so peak memory
        # varies with what lives outside it (off-heap buffers, Python
        # workers), not with when the collector chose to grow the heap
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.eventLog.enabled": "true" if event_dir else "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf["spark.eventLog.dir"] = "file://" + event_dir
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as fh:
        fh.writelines(f"{k} {v}\n" for k, v in conf.items())
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(n),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_CONF_DIR": conf_dir,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONHASHSEED": "0",
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    import tempfile

    tempfile.tempdir = tmp


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and with it every Python
    worker it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001


def cpu_busy_s() -> float:
    """Core-seconds this machine has spent running anything since boot
    (user, nice, system, irq and softirq time in /proc/stat). Idle time
    and steal, the time the host gave this machine's cores to another
    guest, are left out, so the difference over a call is the work it
    cost, however busy the host was."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:8]]
    return (f[0] + f[1] + f[2] + f[5] + f[6]) / os.sysconf("SC_CLK_TCK")


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, stack = [], list(children.get(root, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, []))
    return out


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts: a
    process whose parent dies (a Python worker of a JVM that was killed)
    is re-parented here instead of to init, so `reap_children` waits for
    it too."""
    import ctypes

    pr_set_child_subreaper = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper,
                                                1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def reap_children(grace: float = 20.0) -> None:
    """Return once no child of this process is left: wait up to `grace`
    seconds for them to exit, then kill every descendant and wait again."""
    deadline = time.time() + grace
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.time() > deadline:
            for p in descendants(os.getpid()):
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.05)


class MemSampler:
    """Peak of the summed proportional set size (resident pages, shared
    ones split between their sharers) of this process's descendants: the
    driver JVM and its Python workers. Polled every `period` s: reading
    the JVM's page tables is not free, and its pre-touched heap does not
    move between polls."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @staticmethod
    def _pss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except (OSError, ValueError):
            pass
        return 0

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(self._pss_kb(p) for p in descendants(me))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.period)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


class Tracer:
    """Spans around engine calls. When `enabled`, Spark jobs submitted
    inside a span carry its name as job group."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if self.enabled:
            self.sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            if self.enabled:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append({"name": name, "start": t0, "end": t1})


# SQL metric names Spark gives the bytes its Python runners send to workers
_PY_SENT = ("data sent to Python workers",)


def read_event_log(event_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(event_dir, "**"),
                                 recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def span_counters(events: list[dict],
                  windows: dict[str, tuple[str, float, float]]) -> dict:
    """Per-span Spark counters. `windows` maps a span name to
    (job group, start, end): jobs of that group submitted in [start, end]
    (epoch seconds) belong to the span."""
    jobs = {}
    stage_job = {}
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = (props.get("spark.jobGroup.id"),
                                  ev["Submission Time"] / 1000.0)
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
    job_span = {}
    for jid, (group, t) in jobs.items():
        for name, (g, lo, hi) in windows.items():
            if group == g and lo <= t <= hi:
                job_span[jid] = name
                break
    acc = {name: {"task_ms": [], "shuffle": 0, "spill": 0, "py": 0,
                  "jobs": set()} for name in windows}
    for jid, name in job_span.items():
        acc[name]["jobs"].add(jid)
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        name = job_span.get(stage_job.get(ev.get("Stage ID")))
        if name is None:
            continue
        a = acc[name]
        tm = ev.get("Task Metrics") or {}
        a["task_ms"].append(tm.get("Executor Run Time", 0))
        a["shuffle"] += (tm.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        a["spill"] += (tm.get("Memory Bytes Spilled", 0)
                       + tm.get("Disk Bytes Spilled", 0))
        for accum in (ev.get("Task Info") or {}).get("Accumulables", []):
            if accum.get("Name") in _PY_SENT:
                a["py"] += int(accum.get("Update") or 0)
    out = {}
    mb = 1024.0 * 1024.0
    for name, a in acc.items():
        t = a["task_ms"]
        med = statistics.median(t) if t else 0.0
        out[name] = {
            "task_s": sum(t) / 1000.0,
            "shuffle_write_mb": a["shuffle"] / mb,
            "spill_mb": a["spill"] / mb,
            "python_mb": a["py"] / mb,
            "skew": (max(t) / med) if med > 0 else 0.0,
            "jobs": len(a["jobs"]),
        }
    return out
