"""Session start/stop, run context and small statistics shared by the
workloads."""

from __future__ import annotations

import os
import subprocess
import time
from dataclasses import dataclass, field

from tracing import Tracer


@dataclass
class Run:
    """Everything one benchmark run shares between run.py and a workload."""

    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    work: str  # scratch dir inside the checkout, removed at exit
    human: list[str] = field(default_factory=list)

    def say(self, line: str) -> None:
        self.human.append(line)


@dataclass
class Outcome:
    """What a workload hands back to run.py."""

    setup_s: float  # unstolen wall of staging through the program (run.py adds the session start)
    items_per_s: float  # end-to-end throughput: turns/s of a rebuild, board queries/s
    named: dict[str, float]  # the workload's metrics under its own names (printed)
    attempted: int
    failed: int
    correct: bool
    detail: dict = field(default_factory=dict)


def start_spark(work: str, cores: int):
    """The engine's own session factory with the benchmark's scratch dirs
    (every temp file stays inside the checkout; see run.py for the JVM
    temp dir) and status-store retention large enough that no job of a
    run is evicted before the traced run reads it."""
    from gmql_spark.session import get_spark

    return get_spark(
        cores=cores,
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM this process launched, and wait
    for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


def tail(xs: list[float]) -> tuple[float | None, str]:
    """The highest percentile with at least ten samples beyond it, and its
    label; ``(None, reason)`` when there are too few samples."""
    n = len(xs)
    if n < 11:
        return None, f"n/a ({n} samples; no percentile has 10 beyond it)"
    k = n - 10  # k-th smallest has exactly 10 samples after it
    return sorted(xs)[k - 1], f"p{100 * k // n} of {n} samples"


def dir_bytes(path: str, prefix: str = "") -> int:
    """Bytes of the parquet files under the subdirectories of ``path``
    whose names start with ``prefix``."""
    total = 0
    for entry in os.listdir(path):
        if not entry.startswith(prefix):
            continue
        for root, _dirs, files in os.walk(os.path.join(path, entry)):
            total += sum(
                os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet")
            )
    return total


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal, ...) from ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the time this machine's CPUs wanted to run, between two
    ``cpu_ticks`` readings, that the hypervisor gave to other guests
    instead ("steal"; idle CPUs are never stolen from)."""
    user, nice, system, _idle, _iowait, irq, softirq, steal = (b - a for a, b in zip(before[:8], after[:8]))
    wanted = user + nice + system + irq + softirq + steal
    return steal / wanted if wanted else 0.0


def unstolen(wall: float, before: list[int], after: list[int]) -> float:
    """``wall`` less the share the hypervisor gave to other guests: the
    op's wall on a machine of its own, if the op's critical path lost
    the same share of its CPU time as the machine did. Idle waits, serial
    jobs and scheduler latency still count in full."""
    return wall * (1.0 - steal_share(before, after))
