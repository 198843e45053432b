"""Shared plumbing: checkout paths, process environment, statistics,
host record, memory sampling and disk hygiene.

Nothing here imports Spark or boltspark, so a checkout without the
package still reaches the import check in run.py and fails cleanly.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time

MB = 1e6


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``.

    SPARK_LOCAL_DIRS overrides the engine's spark.local.dir (shuffle and
    spill files), TMPDIR covers Python temp dirs (the package zip the
    session ships, Python workers), java.io.tmpdir covers the JVM, and
    -XX:-UsePerfData stops the JVM's hsperfdata file in /tmp."""
    os.makedirs(work, exist_ok=True)
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = local
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"{opts} -Djava.io.tmpdir={work} -XX:-UsePerfData").strip()
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    import tempfile

    tempfile.tempdir = work


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Highest percentile with >= 10 samples beyond it, as
    (percentile, value, n_samples); None when there are < 11 samples."""
    n = len(xs)
    if n < 11:
        return None
    s = sorted(xs)
    # the value at index n-11 has exactly 10 samples above it
    k = n - 11
    return {"p": round(100.0 * (k + 1) / n, 1), "value": s[k], "n": n}


def dir_bytes(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(total bytes, file count) of the data files under ``path``;
    Hadoop's .crc side files and _SUCCESS markers are not data."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(suffix) and not n.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return total, files


def rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------- host


def memcpy_probe(n_threads: int, mb_per_thread: int = 16,
                 repeats: int = 5) -> float:
    """Aggregate copy bandwidth (GB/s) of ``n_threads`` threads, each
    copying its own ``mb_per_thread`` buffer (numpy releases the GIL
    while copying).  Recorded for attribution only."""
    import numpy as np

    src = [np.ones(mb_per_thread << 17, np.float64) for _ in range(n_threads)]
    dst = [np.empty_like(s) for s in src]
    best = 0.0
    for _ in range(repeats):
        def work(i):
            np.copyto(dst[i], src[i])

        ts = [threading.Thread(target=work, args=(i,)) for i in range(n_threads)]
        t0 = time.perf_counter()
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        dt = time.perf_counter() - t0
        best = max(best, n_threads * (mb_per_thread << 20) / dt / 1e9)
    return best


def mem_available_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) CPU time of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), (fields[7] if len(fields) > 7 else 0)


def host_record() -> dict:
    cpus = len(os.sched_getaffinity(0))
    return {"nproc": cpus,
            "mem_available_mb": round(mem_available_mb(), 1),
            "memcpy_gbps": round(memcpy_probe(cpus), 3)}


# ---------------------------------------------------------------- memory


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _status(pid: int) -> dict:
    out = {}
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                k, _, v = line.partition(":")
                if k in ("Name", "VmRSS", "VmHWM"):
                    out[k] = v.strip()
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            out["cmd"] = f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return {}
    return out


def _kb(v: str | None) -> float:
    return int(v.split()[0]) / 1024.0 if v else 0.0


class RssSampler:
    """Background sampler of the resident memory of the driver JVM and
    the Python workers it forks (all descendants of this process),
    read from /proc.  peak_mb is the highest simultaneous sum."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_mb = 0.0
        self.jvm_hwm_mb = 0.0
        self.workers_peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        jvm = workers = 0.0
        for pid in descendants(os.getpid()):
            st = _status(pid)
            if not st:
                continue
            if st.get("Name") == "java":
                jvm += _kb(st.get("VmRSS"))
                self.jvm_hwm_mb = max(self.jvm_hwm_mb, _kb(st.get("VmHWM")))
            elif "pyspark" in st.get("cmd", ""):
                workers += _kb(st.get("VmRSS"))
        self.workers_peak_mb = max(self.workers_peak_mb, workers)
        self.peak_mb = max(self.peak_mb, jvm + workers)

    def _run(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


# ---------------------------------------------------------------- disk


def free_bytes(paths=("/tmp", "/dev/shm")) -> dict[str, int]:
    out = {}
    for p in paths:
        try:
            st = os.statvfs(p)
        except OSError:
            continue
        out[p] = st.f_bavail * st.f_frsize
    return out


def stop_descendants(timeout: float = 30.0) -> list[int]:
    """Wait for every process this one started to end; terminate the
    stragglers.  Returns the pids that had to be signalled."""
    import signal

    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if not descendants(os.getpid()):
            return []
        time.sleep(0.1)
    left = descendants(os.getpid())
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        time.sleep(1.0)
        if not descendants(os.getpid()):
            break
    return left
