"""The repository benchmark: one command, one workload, one measurement.

  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Generates the seeded inputs in a separate generator process (gen.py), runs
one Spark worker process (worker.py) on local[nproc], prints every metric
by name with its unit, and ends with one JSON line:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run. Inputs, outputs and scratch files live
under ``.perfbench/`` in the current directory; the full result and the
spans are kept in ``.perfbench/results/``, the rest is deleted.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "logstash_filter_translate_spark")
TIME_LIMIT_S = 170
WORKLOADS = ("pages_e2e", "lookup_heavy")

#: end-to-end metrics (name -> unit), reported with --trace 0
END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}

#: per-layer metrics (name -> unit), reported with --trace 1. A metric of a
#: layer the workload does not run reads 0 and is listed under "absent".
PER_LAYER = {
    # pages_e2e ladder and sink
    "io.scan_s": "s",
    "html.parse_s": "s",
    "translate.status_exact_s": "s",
    "translate.lang_exact_s": "s",
    "translate.collab_iterate_s": "s",
    "translate.union_s": "s",
    "pipeline.observe_s": "s",
    "io.sink_write_s": "s",
    "pipeline.aggregates_s": "s",
    "io.sink_files": "count",
    "io.sink_bytes": "B",
    "pipeline.shuffle_bytes": "B",
    "pipeline.scaling_eff": "ratio",
    # lookup_heavy ladder and operators
    "lookup.literal_s": "s",
    "lookup.join_s": "s",
    "lookup.iterate_s": "s",
    "lookup.regex_s": "s",
    "lookup.python_udf_s": "s",
    "lookup.broadcast_bytes": "B",
    "lookup.broadcast_collect_s": "s",
    "lookup.hit_ratio": "ratio",
    # plan build, dictionary files and refresh (on lookup_heavy)
    "translate.plan_s": "s",
    "dictionary.load_csv_s": "s",
    "dictionary.load_json_s": "s",
    "dictionary.load_yaml_s": "s",
    "dictionary.reload_s": "s",
    "refresh.rebuild_s": "s",
    "refresh.apply_write_s": "s",
    "refresh.changed_ratio": "ratio",
    # every workload
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.gc_s": "s",
    "spark.spill_bytes": "B",
    "host.steal_pct": "%",
    "host.cpu_util": "ratio",
    "trace.overhead_s": "s",
}


def summarize(res: dict, trace: int) -> dict:
    """The result line from a worker result."""
    names = PER_LAYER if trace else END_TO_END
    source = res.get("layers", {}) if trace else res
    metrics, absent = {}, []
    for name, unit in names.items():
        value = source.get(name)
        if value is None:
            absent.append(name)
            value = 0
        metrics[name] = {"value": value, "unit": unit}
    res["absent"] = absent
    failed = int(res["failed"])
    return {
        "correct": failed == 0 and not res["errors"],
        "attempted": int(res["attempted"]),
        "failed": failed,
        "metrics": metrics,
    }


def _reap(pgid: int) -> None:
    """Kill what is left of a process group (the worker's JVM shares it)
    and wait until no member remains."""
    try:
        os.killpg(pgid, signal.SIGKILL)
        for _ in range(200):
            time.sleep(0.05)
            os.killpg(pgid, 0)
    except ProcessLookupError:
        pass


def _run(cmd, deadline: float, log, env=None) -> None:
    """Run a child in its own process group; kill the group on overrun."""
    proc = subprocess.Popen(cmd, stdout=log, stderr=log, start_new_session=True, env=env)
    try:
        proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RuntimeError(f"timed out: {cmd[1]}")
    finally:
        _reap(proc.pid)
    if proc.returncode != 0:
        raise RuntimeError(f"{os.path.basename(cmd[1])} exited {proc.returncode}")


def main() -> int:
    ap = argparse.ArgumentParser(description="repository benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(PACKAGE):
        print(f"missing the package under test: {PACKAGE}", file=sys.stderr)
        return 2
    deadline = time.monotonic() + TIME_LIMIT_S
    base = os.path.join(os.getcwd(), ".perfbench")
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(base, f"run-{tag}-{os.getpid()}")
    results = os.path.join(base, "results")
    os.makedirs(work)
    os.makedirs(results, exist_ok=True)
    log_path = os.path.join(results, f"{tag}.log")
    try:
        with open(log_path, "w") as log:
            t0 = time.monotonic()
            _run([sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(a.seed),
                  "--out", os.path.join(work, "data"), "--workload", a.workload],
                 deadline, log)
            gen_s = time.monotonic() - t0
            result_path = os.path.join(results, f"{tag}.json")
            # keep Python's, the JVM's and Spark's scratch files inside the run directory
            tmp = os.path.join(work, "tmp")
            os.makedirs(tmp)
            env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp,
                       JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}")
            _run([sys.executable, os.path.join(HERE, "worker.py"), "--workload", a.workload,
                  "--data", os.path.join(work, "data"), "--work", work,
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--result", result_path,
                  "--spans", os.path.join(results, f"{tag}.spans.jsonl")], deadline, log, env)
        with open(result_path) as fh:
            res = json.load(fh)
    except RuntimeError as exc:
        print(f"benchmark failed: {exc}; see {log_path}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res["input_gen_s"] = gen_s
    line = summarize(res, a.trace)
    with open(result_path, "w") as fh:
        json.dump(res, fh, indent=1, default=str)

    for name, m in line["metrics"].items():
        print(f"{a.workload} {name} {m['value']:.6g} {m['unit']}")
    print(f"{a.workload} error_rate {line['failed'] / line['attempted']:.6g} ratio"
          f" ({line['failed']}/{line['attempted']})")
    if not a.trace:
        host = res.get("host", {})
        print(f"{a.workload} op_p50_s {res['op_p50_s']:.6g} s, op_tail_s {res['op_tail_s']:.6g} s"
              f" (p{res['op_tail_percentile']} of {len(res['ops_s'])} ops)")
        print(f"{a.workload} host steal {host.get('steal_pct')} % jvm_util {host.get('jvm_util')}"
              f" input_gen_s {gen_s:.3g}")
    for msg in res["errors"] + res["failures"]:
        print(f"{a.workload} ERROR {msg}")
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
