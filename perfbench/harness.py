"""Box-sized Spark session, process-tree CPU time and RSS, output digests.

Everything here is measurement plumbing; the library under test is only
reached through its public functions (see workloads.py).
"""

from __future__ import annotations

import os
import signal
import sys
import threading
import time

_T0 = time.perf_counter()


def elapsed() -> float:
    """Seconds since the benchmark process imported this module."""
    return time.perf_counter() - _T0


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"[{elapsed():7.2f}s] {msg}", file=sys.stderr, flush=True)


def box_cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def driver_memory_mb() -> int:
    """A quarter of what `free` reports as available, capped at 1.5 GiB: the
    machine is shared and the workloads never need more."""
    return max(1024, min(1536, mem_available_mb() // 4))


def build_spark(work: str, cores: int):
    """local[nproc] session with shuffle partitions = nproc, sized to `free`.

    Every directory Spark writes (block manager, JVM temp files, warehouse)
    sits under ``work``, so a run leaves nothing outside its checkout.
    SPARK_LOCAL_DIRS is set the way the tier-1 test command sets it."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "jvm_tmp")
    os.makedirs(tmp, exist_ok=True)
    mem = driver_memory_mb()
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.driver.memory", f"{mem}m")
        # a heap fixed at its maximum (-Xms) keeps G1 from resizing it
        # between runs, so GC work per operation does not depend on history;
        # no hsperfdata file under /tmp: the run writes only inside its work dir
        .config("spark.driver.extraJavaOptions",
                f"-Xms{mem}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then close the JVM gateway and wait for it to exit
    (python workers are its children and exit with it)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)


# --- process tree RSS and CPU time -------------------------------------------


def _proc_table() -> dict[int, tuple[int, str, int, int, str]]:
    """pid -> (ppid, starttime, rss_kb, cpu_ticks, comm) for every live
    process; cpu_ticks is user + system time, its own and its reaped
    children's."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                rss_pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
        # comm may hold spaces/parens: split after the LAST ')'
        comm, rest = stat.split("(", 1)[1].rsplit(")", 1)
        fields = rest.split()
        if fields[0] == "Z":
            continue
        out[int(name)] = (
            int(fields[1]), fields[19], rss_pages * os.sysconf("SC_PAGE_SIZE") // 1024,
            sum(int(x) for x in fields[11:15]), comm,
        )
    return out


def _descendants(table, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


_HZ = os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests while this machine's
    CPUs wanted to run, summed over all CPUs. Process CPU times leave it
    out (CONFIG_PARAVIRT_TIME_ACCOUNTING); it is logged as a measure of
    how busy the host was."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _HZ


class ProcessTree:
    """This process (the Spark driver's python side) and every process it
    started (the JVM and its python workers): their summed CPU time, their
    summed RSS (sampled in the background when ``interval_s`` is given),
    and the started ones, so the run can wait for all of them to end before
    it exits."""

    def __init__(self, interval_s: float | None = None):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.seen: dict[int, str] = {}
        self.per_pid: dict[int, int] = {}
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        if self.interval_s is not None:
            self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)

    def sample(self) -> tuple[dict, list[int]]:
        """One RSS sample; also returns the process table and the tree's
        pids."""
        table = _proc_table()
        me = os.getpid()
        pids = _descendants(table, me)
        # a JVM starts its python daemon through a vfork-ed helper that,
        # until it execs, shares the JVM's memory and reads as a second
        # copy of its RSS; of a JVM's children only python ones count
        rss = sum(table[p][2] for p in pids + [me] if not (
            table.get(table[p][0], (0,) * 5)[4] == "java"
            and not table[p][4].startswith("python")
        ))
        with self._lock:
            self.peak_kb = max(self.peak_kb, rss)
            for p in pids:
                self.seen.setdefault(p, table[p][1])
            for p in pids + [me]:
                self.per_pid[p] = max(self.per_pid.get(p, 0), table[p][2])
        return table, pids + [me]

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process and every live process it
        started (workers that already exited count through the cumulative
        child times of the process that reaped them)."""
        table, pids = self.sample()
        return sum(table[p][3] for p in pids) / _HZ

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024

    def wait_all_ended(self, timeout_s: float = 20.0) -> None:
        """Wait until every process ever seen in the tree has ended; kill
        the ones still alive at the deadline."""
        deadline = time.monotonic() + timeout_s
        while True:
            table = _proc_table()
            alive = [
                p for p, start in self.seen.items()
                if p in table and table[p][1] == start
            ]
            if not alive:
                return
            if time.monotonic() > deadline:
                for p in alive:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                deadline = time.monotonic() + 5
            time.sleep(0.1)


# --- output digests ----------------------------------------------------------

#: the canonical-triple columns every digest covers (materialize adds
#: bucket/salt, the lineage reader adds the bucket partition column, the
#: stream sink adds batch — none of those are part of the graph's content)
TRIPLE_COLS = (
    "url", "sent_id", "subj_surface", "pred", "obj_surface",
    "subj_tag", "obj_tag", "subj_mod", "subj_id", "obj_id",
)


def triple_digest(df) -> str:
    """Order-independent multiset digest of canonical triples:
    ``count:sum(xxhash64(row))``. The sum is taken in decimal(38,0) — a
    plain long sum of 64-bit hashes overflows, which Spark's ANSI mode
    raises as ARITHMETIC_OVERFLOW."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64(*TRIPLE_COLS).cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("h"),
    ).first()
    return f"{row['n']}:{row['h']}"
