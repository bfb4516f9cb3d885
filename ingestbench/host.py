"""Host-fit Spark session, host facts and the peak-RSS sampler.

The session goes through ``filters_spark.session.get_spark`` with its
existing inputs only: ``master``/``shuffle_partitions`` sized to the
cores this process may use and ``FILTERS_SPARK_DRIVER_MEM`` sized under
the machine's RAM. Every scratch byte (Spark local dirs, JVM and Python
temp files) lands under the benchmark's work directory.
"""

from __future__ import annotations

import os
import subprocess
import tempfile
import threading
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_mb(total_mb: int) -> int:
    """An eighth of RAM, capped at 4 GiB: the driver JVM hosts every
    task thread in local mode; the Python workers, the page cache and
    the machine's other tenants need the rest."""
    return max(1024, min(4096, total_mb // 8))


def host_facts() -> dict:
    import pandas
    import pyarrow
    import pyspark

    total = ram_mb()
    return {
        "nproc": nproc(),
        "ram_mb": total,
        "driver_mem_mb": driver_mem_mb(total),
        "spark": pyspark.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
    }


def prepare_env(repo_root: str, tmp_dir: str) -> None:
    """Environment the JVM and its Python workers inherit; must run
    before the first SparkSession is built."""
    os.makedirs(tmp_dir, exist_ok=True)
    # Python workers unpickle UDFs that live in filters_spark
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = repo_root + (os.pathsep + pp if pp else "")
    os.environ["TMPDIR"] = tmp_dir
    tempfile.tempdir = tmp_dir
    os.environ["SPARK_LOCAL_DIRS"] = tmp_dir
    os.environ["FILTERS_SPARK_DRIVER_MEM"] = f"{driver_mem_mb(ram_mb())}m"


def start_session(cores: int, tmp_dir: str):
    from filters_spark.session import get_spark

    spark = get_spark(
        "ingestbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it: the
    JVM exits on EOF of its stdin, and takes its Python workers along."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


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
        # ppid is the 2nd field after the parenthesised command name
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared between processes (the Python
    workers are forked from one daemon) count once across the tree."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def wait_children_gone(timeout: float = 30.0) -> None:
    """Wait until this process has no descendants left (the JVM's Python
    workers exit shortly after the JVM)."""
    end = time.monotonic() + timeout
    while len(tree_pids(os.getpid())) > 1 and time.monotonic() < end:
        time.sleep(0.1)


class PeakMemorySampler:
    """Peak resident memory of this process tree (driver Python, the
    gateway JVM and its Python workers), sampled from ``/proc`` as the
    sum of proportional set sizes."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="memory-sampler", daemon=True)

    def sample(self) -> None:
        total = sum(_pss_kb(p) for p in tree_pids(os.getpid()))
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "PeakMemorySampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
