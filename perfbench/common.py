"""Shared plumbing for the benchmark: checkout paths, the Spark session the
workloads run on, host-noise records, the process-tree memory sampler and
the statistics every workload reports.

Everything the benchmark writes lives under ``<checkout>/.perfbench/``
(inputs cache, Spark scratch, event logs, results), so a run touches no
file outside its checkout.
"""

from __future__ import annotations

import ctypes
import gc
import json
import os
import signal
import statistics
import sys
import threading
import time
from multiprocessing import resource_tracker

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
INPUTS = os.path.join(STATE, "inputs")
WORK = os.path.join(STATE, "work")
RESULTS = os.path.join(STATE, "results")
EVENTLOG = os.path.join(STATE, "eventlog")
TMP = os.path.join(STATE, "tmp")

# The benchmark drives the engine on every core the process may use, like
# bench.py's local[$SPARK_GRAFT_CPUS], but sized to this host.
CORES = len(os.sched_getaffinity(0))
# Driver heap: the inputs are tens of MB, and the host's memory is shared.
DRIVER_MEM = "2g"


def prepare_environment() -> None:
    """Point every writer at the checkout and make the package importable
    by the Python workers Spark starts (they inherit this environment)."""
    for d in (INPUTS, WORK, RESULTS, EVENTLOG, TMP):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    # every JVM, the spark-submit launcher included: temp files in the
    # checkout, no hsperfdata under /tmp; JIT compiler threads that live as
    # long as the JVM, so that their CPU time can be told apart (tree_cpu_s)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    )
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(app: str, cores: int = CORES, event_log: bool = False):
    """A session from the package's own factory, with scratch space kept in
    the checkout. ``event_log`` turns on the local event log the traced run
    reads its Spark counters from."""
    from avc_parser_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.local.dir": os.path.join(TMP, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(TMP, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + EVENTLOG
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark(app_name=app, master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm(timeout: float = 60.0) -> None:
    """End the JVM the sessions ran in (its Python workers go with it) and
    wait for it to exit. The JVM exits when its standard input closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout)


def _stat_fields(path: str) -> tuple[str, list[str]] | None:
    """(name, fields after the name) of a /proc stat file."""
    try:
        with open(path) as fh:
            raw = fh.read()
    except OSError:
        return None
    name, rest = raw.split("(", 1)[1].rsplit(")", 1)
    return name, rest.split()


def _children() -> dict[int, list[int]]:
    """Every live process's children by parent pid, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        stat = _stat_fields(f"/proc/{name}/stat") if name.isdigit() else None
        if stat is not None:
            children.setdefault(int(stat[1][1]), []).append(int(name))
    return children


# prctl(2) option: orphaned descendants are re-parented to this process
PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants (the Python
    daemon and workers the JVM forks may outlive the JVM by a moment), so that
    ``reap_children`` can wait for every process the run started."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_children(grace: float = 10.0) -> list[int]:
    """Wait until this process has no children left, orphans re-parented
    to it included: ``grace`` seconds for them to end on their own, then
    SIGTERM, then SIGKILL two seconds later. Returns the signals sent."""
    sent: list[int] = []
    deadline = time.monotonic() + grace
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return sent
        if time.monotonic() >= deadline:
            sig = signal.SIGKILL if signal.SIGTERM in sent else signal.SIGTERM
            sent.append(sig)
            for pid in _children().get(os.getpid(), ()):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 2.0
        time.sleep(0.05)


def host_noise() -> dict:
    """Load averages and the host's CPU tick counters now (``/proc/stat``:
    user, nice, system, idle, iowait, irq, softirq, steal); gates nothing."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return {"loadavg": [round(x, 2) for x in os.getloadavg()], "ticks": ticks, "at": time.time()}


def steal_share(before: dict, after: dict) -> float:
    """Share of CPU time between two ``host_noise`` records that the
    hypervisor gave to other guests. On this kind of shared host it tracks
    the slow phases that the spin probe does not see."""
    delta = [b - a for a, b in zip(before["ticks"], after["ticks"])]
    return delta[7] / max(1, sum(delta))


def spin_probe() -> float:
    """CPU availability: per-core pure-Python spin rate with one pinned
    worker per core, by ``scripts/ceiling_probe.py``'s own probe."""
    # spawned probe workers import the module by name, so the path stays
    # until they have started
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    try:
        import ceiling_probe

        return ceiling_probe.spin_probe(CORES)
    finally:
        sys.path.remove(os.path.join(ROOT, "scripts"))
        # the probe's semaphores started multiprocessing's resource
        # tracker; free them, then stop the tracker and wait for it
        gc.collect()
        resource_tracker._resource_tracker._stop()


def _tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants (driver JVM, Python workers)."""
    children = _children()
    pids, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, ()))
    return pids


def _tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants, from /proc."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total


def tree_cpu_s(root_pid: int) -> tuple[float, float]:
    """CPU seconds (user + system) that ``root_pid`` and all its
    descendants have used, reaped children included, and the part of them
    the JVM's JIT compiler threads used, from /proc."""
    total = jit = 0
    for pid in _tree(root_pid):
        stat = _stat_fields(f"/proc/{pid}/stat")
        if stat is None:
            continue
        # utime, stime, cutime, cstime
        total += sum(int(x) for x in stat[1][11:15])
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            task = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
            if task is not None and "CompilerThre" in task[0]:
                jit += int(task[1][11]) + int(task[1][12])
    tick = os.sysconf("SC_CLK_TCK")
    return total / tick, jit / tick


class RssSampler:
    """Samples the process tree's resident memory every ``period`` seconds
    on a background thread; ``peak_mb`` is the largest sum seen."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


def median(values: list[float]) -> float:
    return statistics.median(values)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(path)
        for f in files
    )


def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh, indent=1, sort_keys=True, default=str)
    os.replace(tmp, path)
