"""Host settings the benchmark pins for itself, the peak-RSS sampler for
the whole process tree, and the shutdown that waits for every process
the run started."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

#: task slots: at most the cores this process may use, and never more
#: than 2, so that hosts of any size run the same plan shapes and the
#: JVM, driver and sampler keep cores of their own on a 4-core host
MAX_SLOTS = 2
#: fixed driver heap; the Python workers live outside it
DRIVER_MEMORY_MB = 2048


def pin_settings(work: str) -> dict:
    """Export the deployment variables the engine's session reads, plus
    the JVM/Python temp dirs, all under ``work``. Returns what was set."""
    slots = min(len(os.sched_getaffinity(0)), MAX_SLOTS)
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    if DRIVER_MEMORY_MB * 2 > phys_mb:
        raise SystemExit(f"host has {phys_mb} MB of RAM; the benchmark needs {DRIVER_MEMORY_MB * 2}")
    dirs = {name: os.path.join(work, name) for name in ("local", "warehouse", "tmp")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    settings = {
        "SPARK_GRAFT_CPUS": str(slots),
        "SPARK_DRIVER_MEMORY": f"{DRIVER_MEMORY_MB}m",
        "SPARK_LOCAL_DIRS": dirs["local"],
        "SPARK_WAREHOUSE_DIR": dirs["warehouse"],
        "TMPDIR": dirs["tmp"],
        # keep the JVMs' own temp files (and perf data) inside the run dir
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
    }
    os.environ.update(settings)
    # a durable checkpoint dir from the caller's environment would both
    # change the lineage-cut path and write outside the run dir
    os.environ.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)
    return {"task_slots": slots, "driver_memory_mb": DRIVER_MEMORY_MB, "phys_mem_mb": phys_mb,
            "nproc": len(os.sched_getaffinity(0)), **settings}


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, host-wide, so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        state, ppid = stat[stat.rindex(")") + 2 :].split()[:2]
        if state != "Z":  # a zombie has ended; only its parent can reap it
            kids.setdefault(int(ppid), []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20
    except OSError:
        return 0.0


def _kind(pid: int, me: int) -> str:
    if pid == me:
        return "self"
    try:
        with open(f"/proc/{pid}/comm") as f:
            return "jvm" if f.read().strip() == "java" else "workers"
    except OSError:
        return "workers"


class PeakRss:
    """Samples the summed RSS (MB) of this process and all its
    descendants. ``phase`` labels the samples; ``phases`` keeps each
    label's peak and its split into this process, the JVM and the
    Python workers."""

    def __init__(self, interval_s: float = 0.1):
        self.peak = 0.0
        self.phase = "setup"
        self.phases: dict[str, dict] = {}
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            split: dict[str, float] = {}
            for p in [me, *descendants(me)]:
                k = _kind(p, me)
                split[k] = split.get(k, 0.0) + _rss_mb(p)
            total = sum(split.values())
            self.peak = max(self.peak, total)
            if total > self.phases.get(self.phase, {}).get("total", 0.0):
                self.phases[self.phase] = {"total": total, **split}
            self._stop.wait(self._interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def stop_spark(spark, timeout_s: float = 60) -> None:
    """Stop the session, end the JVM and wait for every descendant."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout_s)
    deadline = time.monotonic() + timeout_s
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(os.getpid()) and time.monotonic() < deadline + 10:
        time.sleep(0.05)
