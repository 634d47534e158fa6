"""Session sizing, timing, spans and result plumbing shared by the
workloads. Nothing here imports pyspark at module level: the launcher
imports this module before any JVM exists."""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_mb() -> int:
    """A quarter of the host's RAM, capped at 4 GiB and at least 1 GiB:
    the machine is shared, and every workload fits well inside 4 GiB."""
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                return max(1024, min(4096, total_mb // 4))
    return 2048


def session_env(work_dir: str) -> dict[str, str]:
    """Environment for the worker process: the session sized from this
    machine, and every scratch directory Spark, the JVM and Python use
    placed inside the run's work directory."""
    local = os.path.join(work_dir, "spark-local")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(host_cpus()),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mem_mb()}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "TZ": "UTC",
    }


def base_conf(work_dir: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the driver heap is sized up front (-Xms = spark.driver.memory, the
        # value SPARK_GRAFT_DRIVER_MEM also carries), so the JVM's peak RSS
        # follows what the run touches rather than when the collector chose
        # to grow the heap
        "spark.driver.memory": f"{driver_mem_mb()}m",
        "spark.driver.defaultJavaOptions": f"-Xms{driver_mem_mb()}m",
    }
    if trace:
        log_dir = os.path.join(work_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


# ---------------------------------------------------------------------------
# statistics


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in (0, 100])."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = max(0, min(len(s) - 1, -(-len(s) * q // 100) - 1))
    return float(s[int(k)])


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the session's JVM, read from /proc."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) under a directory tree; (0, 0) if it does not exist."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


# ---------------------------------------------------------------------------
# answer fingerprints


def md5_60_col(cols):
    """Spark column: the first 60 bits of md5 over ``cols`` (null read
    as "") joined by 0x1f, as a decimal — the per-row term ``gen.md5_60``
    computes for the expected side. Summed, it is an order-insensitive
    fingerprint."""
    from pyspark.sql import functions as F

    key = F.concat_ws("\x1f", *[F.coalesce(F.col(c), F.lit("")) for c in cols])
    return F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("decimal(20,0)")


def fingerprint(df, cols) -> tuple[int, int]:
    """(rows, sum of md5_60_col(cols)) of a DataFrame."""
    from pyspark.sql import functions as F

    r = df.agg(F.count("*").alias("n"), F.sum(md5_60_col(cols)).alias("h")).first()
    return r.n, int(r.h or 0)


# ---------------------------------------------------------------------------
# spans


class Tracer:
    """Benchmark-side spans around calls into the package.

    A span records (id, name, start, end, parent, request) in memory. When
    tracing is on, every span also becomes the Spark job group of the
    jobs started inside it, so the event log attributes those jobs to it;
    when tracing is off, ``span`` only yields."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._n = 0
        self.prefix = ""  # "warmup." while warming up, so medians skip those spans

    @contextmanager
    def span(self, name: str, request: int | None = None):
        if not self.enabled:
            yield
            return
        self._n += 1
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": f"pb{self._n}",
            "name": self.prefix + name,
            "parent": parent["id"] if parent else None,
            "request": request if request is not None else (parent or {}).get("request"),
            "start": time.time(),
        }
        self._stack.append(sp)
        self.sc.setJobGroup(sp["id"], name)
        try:
            yield
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            self.spans.append(sp)
            if parent:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


class Clock:
    """Timed operations of one run: wall times per op type, plus the
    attempted/failed counts that make up the result line."""

    def __init__(self):
        self.walls: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, kind: str, seconds: float, ok: bool, why: str = "") -> None:
        self.attempted += 1
        self.walls.setdefault(kind, []).append(seconds)
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(f"{kind}: {why}")

    def check(self, ok: bool, why: str = "") -> None:
        """An answer checked after the timed loop: counts as an attempted
        operation, adds no wall time."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"final check: {why}")

    def all_walls(self) -> list[float]:
        return [w for ws in self.walls.values() for w in ws]

    def p50_ms(self, kind: str) -> float:
        return median(self.walls.get(kind, [])) * 1000
