"""Host fit, process-tree memory sampling and on-disk sizes.

Everything the benchmark writes stays under one work directory inside the
checkout: the warehouses, Spark's local dir, the JVM's and Python's temp
files. ``configure`` must run before the first pyspark session launches the
driver JVM, because the heap size and JVM options are read at launch.
"""

from __future__ import annotations

import os
import threading


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_gb(mem_total: int) -> int:
    """Driver heap: a quarter of MemTotal, between 1 and 2 GiB. The
    benchmark corpora need well under 1 GiB; the cap keeps the JVM small on
    a machine shared with other tenants."""
    return max(1, min(2, mem_total // (4 << 30)))


def configure(root: str, work: str) -> dict:
    """Export the environment the session and its Python workers need and
    return the host settings, for the run report."""
    cores = len(os.sched_getaffinity(0))
    mem_total = mem_total_bytes()
    heap_gb = driver_memory_gb(mem_total)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers are forked by the JVM from a fresh interpreter: without
    # PYTHONPATH they cannot import trustgraph_spark (ModuleNotFoundError).
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap_gb}g"
    os.environ["TMPDIR"] = tmp
    # the launcher JVM that spark-submit runs first: no hsperfdata under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return {
        "cores": cores,
        "mem_total_gib": round(mem_total / (1 << 30), 1),
        "driver_memory": f"{heap_gb}g",
        "work_dir": work,
    }


def spark_conf(work: str) -> dict:
    """Session settings on top of trustgraph_spark.session.get_spark's."""
    tmp = os.path.join(work, "tmp")
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # -XX:-UsePerfData: no hsperfdata file under the system /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the machine since boot, from /proc/stat.
    Steal is time the hypervisor gave this machine's CPUs to other guests;
    a phase with a high steal share ran on a contended host."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, stack = [], list(kids.get(pid, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed RSS of this process's descendants (the driver JVM and
    the Python workers it forks), sampled from /proc while active. The
    benchmark's own interpreter is excluded: it holds the oracle data."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        total = sum(rss_bytes(p) for p in descendants(os.getpid()))
        self.peak = max(self.peak, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            try:
                total += os.stat(os.path.join(dirpath, fn)).st_size
            except OSError:
                pass
    return total


def table_bytes(warehouse: str) -> dict[str, int]:
    """Bytes on disk per warehouse table (top-level directory)."""
    out = {}
    for name in sorted(os.listdir(warehouse)):
        full = os.path.join(warehouse, name)
        if os.path.isdir(full):
            out[name] = dir_bytes(full)
    return out

