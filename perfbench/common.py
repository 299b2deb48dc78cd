"""Session sizing, output digests, peak-RSS sampling and the host-speed
reference shared by the workloads."""

from __future__ import annotations

import os
import threading
import time

import numpy as np
import pandas as pd


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def start_spark(work: str, trace: bool):
    """``local[nproc]``, nproc shuffle partitions, a JVM heap of at most a
    quarter of physical RAM (1 GiB cap), and every scratch file under
    ``work``. The Spark UI (and its REST API, which the traced run reads)
    is on only when tracing."""
    from pyspark.sql import SparkSession

    cores = host_cores()
    heap_mb = min(1024, host_mem_mb() // 4)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.driver.memory", f"{heap_mb}m")
        # the heap is committed and touched up front: left to grow, its
        # resident size follows the collector's timing-driven sizing, and
        # peak_rss_mb spread 0.20 over ten seeds on a shared 4-vCPU VM
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap_mb}m -XX:+AlwaysPreTouch",
        )
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "true" if trace else "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin pipe from this process closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


TRANSCRIPT_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
CHANGE_COLS = ["conv_id", "turn_idx", "__lsn", "__deleted"]
_CASTS = {
    "conv_id": "string", "turn_idx": "int", "role": "string", "text": "string",
    "tool": "string", "ts": "timestamp", "__lsn": "bigint", "__deleted": "boolean",
}


def digest(df, cols=TRANSCRIPT_COLS) -> tuple[int, int]:
    """Row count plus an order-independent row hash (sum of xxhash64 over the
    typed columns), computed by one aggregate job."""
    from pyspark.sql import functions as F

    typed = df.select(*[F.col(c).cast(_CASTS[c]).alias(c) for c in cols])
    row = typed.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)


class PeakRss:
    """Samples the summed resident memory of this process and all
    descendants (the Spark JVM and its Python workers) from ``/proc`` until
    stopped. Each process counts its proportional set size, so pages that
    forked Python workers share are not counted twice. Processes younger
    than ``min_age`` seconds are skipped: a child the JVM spawns to exec a
    helper shares the JVM's address space until it execs, and would count
    the whole JVM a second time."""

    def __init__(self, interval: float = 0.5, min_age: float = 1.0):
        self.interval = interval
        self.min_age = min_age
        self.peak_bytes = 0
        self._tick = os.sysconf("SC_CLK_TCK")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    def _tree_rss(self) -> int:
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        parent: dict[int, int] = {}
        young: set[int] = set()
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            # after the parenthesised command name: field 4 is the parent
            # pid, field 22 the start time in clock ticks since boot
            fields = stat.rsplit(")", 1)[1].split()
            parent[int(name)] = int(fields[1])
            if uptime - int(fields[19]) / self._tick < self.min_age:
                young.add(int(name))
        tree = {os.getpid()}
        grew = True
        while grew:
            grew = False
            for pid, ppid in parent.items():
                if ppid in tree and pid not in tree:
                    tree.add(pid)
                    grew = True
        total = 0
        for pid in tree - young:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1024 * 1024)


class Clock:
    """Closed-loop deadline: run operations back to back until ``seconds``
    have passed (the operation in flight at the deadline completes)."""

    def __init__(self, seconds: float):
        self.end = time.perf_counter() + seconds

    def more(self) -> bool:
        return time.perf_counter() < self.end


REF_ROWS = 200_000


class Reference:
    """A fixed Spark job that uses nothing of the program under test, timed
    alongside a workload to measure the host's speed at that moment: a
    generated range through a pandas UDF, a shuffle and an aggregate, run
    to a no-op sink.

    A shared host can change speed by 2x and more, in phases of minutes
    (measured on a 4-vCPU VM); CPU time grows with wall time, so little of
    it shows as steal. A workload runs the reference while the program is
    idle, at the moments it measures the program, and reports its timings
    scaled by ``NOMINAL_MS`` over the reference's median: the time the
    operation would have taken on a host on which the reference takes
    ``NOMINAL_MS``."""

    NOMINAL_MS = 300.0

    def __init__(self, spark):
        from pyspark.sql import functions as F

        @F.pandas_udf("long")
        def text_len(s: pd.Series) -> pd.Series:
            return s.str.len()

        self.df = (
            spark.range(0, REF_ROWS, numPartitions=spark.sparkContext.defaultParallelism)
            .select((F.col("id") % 4096).alias("k"), F.sha2(F.col("id").cast("string"), 256).alias("s"))
            .groupBy("k")
            .agg(F.sum(text_len("s")).alias("n"))
        )
        self.samples: list[float] = []

    def _run(self) -> float:
        t = time.perf_counter()
        self.df.write.format("noop").mode("overwrite").save()
        return (time.perf_counter() - t) * 1000

    def warm(self, n: int = 2) -> None:
        """Untimed runs: the reference's first runs pay its own JIT warm-up."""
        for _ in range(n):
            self._run()

    def block(self, n: int = 3) -> None:
        self.samples += [self._run() for _ in range(n)]

    @property
    def scale(self) -> float:
        """A raw time times ``scale`` is the time at the nominal host speed."""
        return self.NOMINAL_MS / float(np.median(self.samples))
