"""Host telemetry for perf measurements, and the skewed-join measurement.

One Spark run per process invocation: JVM state persists across
SparkSession stop/create within a Python process, so comparable runs must
be separate processes.

Usage:
  python tools/scalebench.py run_skew <cpus> <rows> <plain|salted>
      → one skewed-join measurement (zipfian hot key), own JVM.
  python tools/scalebench.py skew [rows] [cpus] [reps]
      → salted vs unsalted shuffle-join comparison on the skewed input.

``HostMeter`` (steal, host busy, the JVM's CPU share) is what
perfbench/worker.py records per measurement.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def gc_opts(cpus: int) -> str:
    """ParallelGC (throughput collector) beats the G1 default on every
    interleaved A/B in this sandbox (+10% @4, +33% @16, +13..33% @32
    threads, 2026-08-16): the job is one allocation-heavy codegen stage
    with no latency requirement, exactly ParallelGC's case. GC worker
    count tracks the executor thread count (capped: the host degrades
    past ~16 runnable threads)."""
    return os.environ.get(
        "LFTS_GC_OPTS",
        f"-XX:+UseParallelGC -XX:ParallelGCThreads={min(16, max(4, cpus))}",
    )


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


def _subprocess_run(args: list[str], timeout: int = 2400) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), *args],
        capture_output=True, text=True, timeout=timeout,
    )
    if out.returncode != 0:
        raise RuntimeError(
            f"scalebench {args[0]} failed rc={out.returncode}: "
            f"{out.stderr[-500:]}"
        )
    return json.loads(out.stdout.strip().splitlines()[-1])


# ---------------------------------------------------------------------------
# skewed-input variant: salted vs plain shuffle join under a zipfian hot key
# ---------------------------------------------------------------------------

SKEW_HOT_PCT = 90  # % of probe rows carrying the single hot key
SKEW_COLD_KEYS = 1000


def skew_run(cpus: int, rows: int, variant: str) -> dict:
    """One skewed-join measurement: probe side has a 90%-hot key (the
    boilerplate-page shape at web scale), build side is a 1001-key
    dictionary too big to broadcast *by declaration* (broadcast disabled).
    ``plain``: vanilla shuffle join — the hot key lands on ONE reducer.
    ``salted``: salted_broadcast_free_join spreads it over 16 reducers.
    AQE's skew-join is disabled for BOTH so the explicit mechanism is
    isolated (AQE is the planner-side alternative, left on in every other
    session)."""
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "16g")
    from pyspark.sql import functions as F

    from logstash_filter_translate_spark.plans.pipeline import (
        salted_broadcast_free_join,
    )
    from logstash_filter_translate_spark.session import build_session

    spark = build_session(
        app_name=f"skew-{variant}-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
        extra_conf={
            "spark.driver.extraJavaOptions": gc_opts(cpus),
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.skewJoin.enabled": "false",
        },
    )
    probe = spark.range(rows).select(
        F.col("id"),
        F.when(
            F.pmod(F.col("id"), F.lit(100)) < SKEW_HOT_PCT, F.lit("hot-key")
        )
        .otherwise(
            F.concat(F.lit("k"), F.pmod(F.col("id"), F.lit(SKEW_COLD_KEYS)))
        )
        .alias("key"),
    )
    build = spark.range(SKEW_COLD_KEYS + 1).select(
        F.when(F.col("id") == 0, F.lit("hot-key"))
        .otherwise(F.concat(F.lit("k"), F.col("id") - 1))
        .alias("bkey"),
        (F.col("id") * 7).alias("payload"),
    )

    def job():
        if variant == "salted":
            joined = salted_broadcast_free_join(
                probe, build, "key", "bkey", salt_buckets=16
            )
        else:
            joined = probe.join(build, probe["key"] == build["bkey"], "left")
        # per-key aggregate WITHOUT map-side combine relief on the join
        # itself: the join shuffle is where the hot key hurts
        out = joined.groupBy("key").agg(
            F.count("*").alias("cnt"), F.sum("payload").alias("s")
        )
        out.write.format("noop").mode("overwrite").save()

    job()  # warmup (JIT, heap growth)
    t0 = time.time()
    job()
    elapsed = time.time() - t0
    spark.stop()
    return {
        "cpus": cpus,
        "variant": variant,
        "rows": rows,
        "sec": round(elapsed, 2),
        "rows_per_sec": round(rows / elapsed, 1),
    }


def skew_sweep(rows: int, cpus: int, reps: int) -> dict:
    """Interleaved plain-vs-salted comparison, one JVM per measurement;
    reports the per-rep pairs and median speedup — the north_rule's 'skew
    handled explicitly' as a measured before/after."""
    results: dict = {"plain": [], "salted": []}
    # discarded quarter-size primers — ONE PER VARIANT: the first wide
    # run of a phase lands ~2x low (r6a: skew rep0 speedup 1.15x with
    # BOTH variants slow vs 2.66x for rep1), and the two variants are
    # DIFFERENT plan shapes (the salted plane's salt-replication
    # crossJoin has its own codegen/task profile), so a plain-only
    # primer left the first salted rep cold — r8b measured salted rep0
    # at 21.6 s vs 5.5 s on rep1 at clean telemetry, flipping that
    # pair's speedup to 0.863. Always run, always discarded.
    primer = None
    if os.environ.get("SPARK_GRAFT_PHASE_PRIMER", "1") != "0":
        primer = {"discarded": True}
        for variant in ("plain", "salted"):
            try:
                primer[variant] = _subprocess_run(
                    ["run_skew", str(cpus), str(max(rows // 4, 1)),
                     variant],
                    timeout=600,
                )
            except Exception as exc:
                primer[variant] = {"error": str(exc)[:200]}
    for rep in range(reps):
        for variant in ("plain", "salted"):
            r = _subprocess_run(
                ["run_skew", str(cpus), str(rows), variant], timeout=1200
            )
            results[variant].append(r["sec"])
            print(f"rep{rep} skew/{variant}: {r['sec']}s",
                  file=sys.stderr, flush=True)
    speedups = [
        round(p / s, 3) for p, s in zip(results["plain"], results["salted"])
    ]
    return {
        "rows": rows,
        "cpus": cpus,
        "reps": reps,
        "hot_pct": SKEW_HOT_PCT,
        "plain_sec": results["plain"],
        "salted_sec": results["salted"],
        "pair_speedups": speedups,
        "median_speedup": round(statistics.median(speedups), 3),
        **({"primer": primer} if primer else {}),
    }

def main():
    cmd = sys.argv[1]
    if cmd == "run_skew":
        cpus, rows, variant = int(sys.argv[2]), int(sys.argv[3]), sys.argv[4]
        print(json.dumps(skew_run(cpus, rows, variant)))
    elif cmd == "skew":
        rows = int(sys.argv[2]) if len(sys.argv) > 2 else 8_000_000
        cpus = (int(sys.argv[3]) if len(sys.argv) > 3
                else len(os.sched_getaffinity(0)))
        reps = int(sys.argv[4]) if len(sys.argv) > 4 else 3
        print(json.dumps(skew_sweep(rows, cpus, reps)))
    else:
        raise SystemExit(f"unknown command {cmd}")


if __name__ == "__main__":
    main()
