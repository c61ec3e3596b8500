"""Exact-lookup plane microbenchmark: the bucketed map literal against the
broadcast hash join, the evidence for ``lookup.MAP_LITERAL_MAX_ENTRIES``
(the literal-to-join crossover) and ``lookup.BUCKET_KEYS`` (keys per
bucket).

Grid: dictionary sizes × shape × plane. Shapes are ``scalar`` (one key per
row, as the reference's benchmark_rspec.rb:26,44-54) and ``iterate_on``
(an array of 3 keys per row, joined back on a natural row key). Planes are
``join`` and ``literal`` at each keys-per-bucket value. Keys are drawn
uniformly from 1.2× the dictionary's key space, so about 83% of probes hit.

Each configuration runs in its own subprocess (one JVM per measurement: in
a shared JVM whichever plane runs last wins on JIT warm-up) at local[nproc]:
one warm noop write, then the best of ``--reps`` timed noop writes. The
report carries rows/s and the strategy build time (``build_s``).

Usage:
  python tools/microbench_exact.py [--rows N] [--sizes 4000,20000,100000]
      [--bucket-keys 8,32] [--reps 4] [--cpus N]
Prints one line per configuration to stderr and one JSON document to
stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

KEYS_PER_ROW = 3  # iterate_on shape


def run_one(cfg: dict) -> dict:
    """One configuration, in this process."""
    from pyspark.sql import functions as F

    from logstash_filter_translate_spark.config import TranslateConfig
    from logstash_filter_translate_spark.operators import lookup
    from logstash_filter_translate_spark.operators.translate import Translate
    from logstash_filter_translate_spark.session import build_session

    cpus, rows, n = cfg["cpus"], cfg["rows"], cfg["entries"]
    lookup.MAP_LITERAL_MAX_ENTRIES = 0 if cfg["plane"] == "join" else n
    if cfg["bucket_keys"]:
        lookup.BUCKET_KEYS = cfg["bucket_keys"]
    spark = build_session(
        app_name="micro-exact",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={"spark.driver.memory": "2g"},
    )
    dictionary = [(f"key-{i}", f"value-{i}") for i in range(n)]
    span = n * 6 // 5

    def key(c):
        return F.concat(F.lit("key-"), F.pmod(F.xxhash64(c), F.lit(span)).cast("string"))

    events = spark.range(0, rows, 1, cpus * 4)
    if cfg["shape"] == "scalar":
        events = events.select(key(F.col("id")).alias("k"))
        tcfg, kw = dict(source="k", target="t"), {}
    else:
        keys = [key(F.col("id") * KEYS_PER_ROW + j) for j in range(KEYS_PER_ROW)]
        events = events.select("id", F.array(*keys).alias("k"))
        tcfg, kw = dict(source="k", iterate_on="k", target="t"), {"iterate_key": "id"}
    t0 = time.perf_counter()
    op = Translate(TranslateConfig(dictionary=dictionary, **tcfg), spark=spark)
    build_s = time.perf_counter() - t0
    out = op.apply(events, **kw)

    def job():
        out.write.format("noop").mode("overwrite").save()

    job()  # warm
    times = []
    for _ in range(cfg["reps"]):
        t0 = time.perf_counter()
        job()
        times.append(time.perf_counter() - t0)
    spark.stop()
    return {
        **cfg,
        "strategy": type(op.strategy).__name__,
        "build_s": round(build_s, 3),
        "best_s": round(min(times), 3),
        "rows_per_s": round(rows / min(times)),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rows", type=int, default=2_000_000)
    ap.add_argument("--sizes", default="4000,20000,100000")
    ap.add_argument("--bucket-keys", default="8,32")
    ap.add_argument("--reps", type=int, default=4)
    ap.add_argument("--cpus", type=int, default=os.cpu_count() or 1)
    ap.add_argument("--one", help=argparse.SUPPRESS)  # a subprocess's config
    a = ap.parse_args()
    if a.one:
        print(json.dumps(run_one(json.loads(a.one))))
        return
    planes = [("join", None)] + [
        ("literal", int(k)) for k in a.bucket_keys.split(",")
    ]
    results = []
    for n in (int(s) for s in a.sizes.split(",")):
        for shape in ("scalar", "iterate_on"):
            for plane, k in planes:
                cfg = dict(entries=n, shape=shape, plane=plane, bucket_keys=k,
                           rows=a.rows, reps=a.reps, cpus=a.cpus)
                proc = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--one", json.dumps(cfg)],
                    capture_output=True, text=True, check=True,
                )
                r = json.loads(proc.stdout.strip().splitlines()[-1])
                results.append(r)
                print(
                    f"{n:>7} {shape:<10} {plane:<7} K={k or '-':<3} "
                    f"{r['rows_per_s'] / 1e6:6.2f} M rows/s  build {r['build_s']:.2f} s",
                    file=sys.stderr,
                )
    print(json.dumps(results))


if __name__ == "__main__":
    main()
