"""Host guards and probes: keep every file the run writes inside the
checkout, fit the program's memory defaults to the host, time session
set-up, and sample the resident memory of the Spark JVM and its Python
workers from /proc."""

from __future__ import annotations

import os
import re
import sys
import threading
import time

GIB = 1 << 30
# room left beside the JVM for this process and the Python workers
PY_RESERVE = 2 * GIB
MIN_HEAP = 2 * GIB


def isolate(work: str) -> None:
    """Point every scratch location Spark and Python use into ``work``."""
    for sub in ("spark-local", "warehouse", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["CCER_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["CCER_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the JVM's temp files and perf-data file would otherwise land in /tmp
    os.environ["JDK_JAVA_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    os.chdir(os.path.join(work, "tmp"))  # spark-warehouse, derby.log, metastore_db


def mem_available() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def _bytes(size: str) -> int:
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", size.strip().lower())
    if not m:
        raise ValueError(f"unparseable memory size {size!r}")
    return int(m.group(1)) << (10 * " kmgt".index(m.group(2) or " "))


def fit_memory_to_host() -> None:
    """Check the program's own heap + off-heap defaults against
    MemAvailable when the session is built, before the JVM starts.

    The defaults are read from the builder ``get_spark`` hands to
    ``getOrCreate``, so nothing here repeats the program's sizing rule.
    The heap is a ceiling the JVM grows into, not memory it takes at
    start; when the sum does not fit, the heap ceiling is lowered to what
    does and the run says so on stderr. If even a MIN_HEAP heap cannot
    fit next to the off-heap pool, the run stops."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    original = SparkSession.Builder.getOrCreate

    def get_or_create(builder):
        if SparkContext._gateway is not None:  # the JVM is already up
            return original(builder)
        opts = builder._options
        heap = _bytes(opts.get("spark.driver.memory", "1g"))
        offheap = (
            _bytes(opts.get("spark.memory.offHeap.size", "0"))
            if str(opts.get("spark.memory.offHeap.enabled", "false")).lower() == "true"
            else 0
        )
        avail = mem_available()
        if heap + offheap + PY_RESERVE > avail:
            cap = (avail - offheap - PY_RESERVE) // GIB * GIB
            if cap < MIN_HEAP:
                sys.exit(
                    f"perfbench: off-heap {offheap / GIB:.1f} GiB + a "
                    f"{MIN_HEAP / GIB:.0f} GiB heap does not fit in MemAvailable "
                    f"{avail / GIB:.1f} GiB; free memory or lower CCER_OFFHEAP_SIZE"
                )
            print(
                f"perfbench: default heap {heap / GIB:.1f} GiB + off-heap "
                f"{offheap / GIB:.1f} GiB exceeds MemAvailable {avail / GIB:.1f} GiB "
                f"less {PY_RESERVE / GIB:.0f} GiB for Python; heap ceiling lowered "
                f"to {cap // GIB} GiB",
                file=sys.stderr,
            )
            builder.config("spark.driver.memory", f"{cap // GIB}g")
        return original(builder)

    SparkSession.Builder.getOrCreate = get_or_create


def process_start_time() -> float:
    """Wall-clock time this process was started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(l.split()[1]) for l in fh if l.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def start_session(cores: int, extra_conf: dict) -> tuple:
    """get_spark + one trivial job; returns (spark, seconds since process start)."""
    from ccer.session import get_spark

    spark = get_spark(app_name="perfbench", cores=cores, extra_conf=extra_conf)
    spark.range(1).count()
    return spark, time.time() - process_start_time()


def _proc_table() -> dict[int, tuple[int, int, str]]:
    """pid -> (parent pid, RSS pages, command name) for every process."""
    table = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                head, _, tail = fh.read().rpartition(")")
            fields = tail.split()
            table[int(pid)] = (int(fields[1]), int(fields[21]), head.partition("(")[2])
        except (OSError, IndexError, ValueError):  # exited during the scan
            continue
    return table


def descendants(table: dict | None = None) -> list[int]:
    """Live descendant pids of this process."""
    table = _proc_table() if table is None else table
    root, out = os.getpid(), []
    for pid in table:
        p = table[pid][0]
        while p and p != root:
            p = table[p][0] if p in table else 0
        if p == root:
            out.append(pid)
    return out


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, shut down the JVM it runs in, and wait until the
    JVM and its Python workers have exited."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + timeout
    while descendants() and time.time() < deadline:
        time.sleep(0.1)


class RssSampler(threading.Thread):
    """Peak resident memory of every descendant of this process: the Spark
    JVM and its Python daemon and workers, sampled every ``period`` s.

    The JVM counts its RSS. The Python workers are forked from one daemon
    and share most of their pages with it, so summing their RSS would
    count those pages once per worker alive at the sampling instant; they
    count their PSS instead, which splits each shared page between its
    sharers."""

    def __init__(self, period: float = 0.1):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    @staticmethod
    def _pss(pid: int) -> int:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
        return 0

    def _sample(self) -> int:
        table, total = _proc_table(), 0
        for pid in descendants(table):
            _, rss_pages, comm = table[pid]
            try:
                total += rss_pages * self._page if comm == "java" else self._pss(pid)
            except OSError:  # exited since the scan
                continue
        return total

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, self._sample())
            self._stop_evt.wait(self.period)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak / 2**20
