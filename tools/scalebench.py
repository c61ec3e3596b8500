"""Host telemetry for perf measurements.

``HostMeter`` (steal, host busy, the JVM's CPU share) is what
perfbench/worker.py and bench.py record per measurement, so a slow
measurement can be told apart from a busy host.
"""

from __future__ import annotations

import os
import time


def _proc_stat() -> list[int]:
    """Host cpu jiffies: user nice system idle iowait irq softirq steal.
    The STEAL field is the hypervisor's co-tenant theft — the quantity
    this sandbox's ±50% noise is made of."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _jvm_cpu_seconds(spark) -> float:
    """Cumulative CPU seconds consumed by the Spark JVM (utime+stime from
    /proc/<pid>/stat) — lets each measurement record how much CPU it
    actually RECEIVED, separating engine efficiency from host theft."""
    try:
        pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/stat") as fh:
            parts = fh.read().rsplit(")", 1)[1].split()
        # fields after comm: index 11,12 are utime,stime (0-based here)
        return (int(parts[11]) + int(parts[12])) / os.sysconf("SC_CLK_TCK")
    except Exception:
        return float("nan")


class HostMeter:
    """Per-measurement host telemetry: busy%, steal%, and the JVM's
    achieved utilization of its thread allocation. A slow measurement
    with high steal / low utilization is the host, not the plan —
    recorded with the measurement so a reader can tell which."""

    def __init__(self, spark, cpus: int):
        self.spark = spark
        self.cpus = cpus

    def __enter__(self):
        self.stat0 = _proc_stat()
        self.jvm0 = _jvm_cpu_seconds(self.spark)
        self.t0 = time.time()
        return self

    def __exit__(self, *exc):
        elapsed = time.time() - self.t0
        d = [b - a for a, b in zip(self.stat0, _proc_stat())]
        total = sum(d) or 1
        jvm = _jvm_cpu_seconds(self.spark) - self.jvm0
        self.metrics = {
            # fraction of the whole host busy with anything
            "host_busy_pct": round(100 * (total - d[3] - d[4]) / total, 1),
            # hypervisor steal: co-tenant theft during the measurement
            "steal_pct": round(100 * d[7] / total, 2),
            # CPU the JVM got / CPU its thread allocation could use
            "jvm_util": round(jvm / (elapsed * self.cpus), 3)
            if jvm == jvm
            else None,
        }
