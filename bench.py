"""Benchmark runner: the headline queries, then the pipeline's scaling.

  python bench.py                  # full run
  python bench.py QUERY [QUERY …]  # development run: only these queries

Prints exactly ONE JSON line to stdout, compact and under
STDOUT_LINE_LIMIT chars (the driver parses only the last ~2000 chars of
stdout):
  {"metric":"headline_queries_total","value":<sum of medians>,"unit":"sec",
   "queries":{name: median},"queries_file":"BENCH/HEADLINE_<tag>.json",
   "sf":<sf>,"extras":{...}}

Phases:
  1. headline: the HEADLINE queries (or the named ones) at
     $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
     local[$SPARK_GRAFT_CPUS] (default: the CPUs this process may use).
     Per query one untimed warm run, then 3 timed reps, MEDIAN reported.
     Each rep is split into build (the query-function call, including any
     eager checkpoint or connected-components jobs) and exec (the noop
     write), each with its Spark job count; build + exec is the rep. The
     per-rep record lives in the HEADLINE side file.
  2. scaling (full runs only): one traced perfbench `pages_e2e` run;
     extras.scaling carries its `pipeline.scaling_eff`.

Plan shapes are pinned by tests/test_plan_digests.py, not recorded here.

Kill safety: a wall-clock budget ($SPARK_GRAFT_BENCH_BUDGET) gates phase
2; the HEADLINE side file is rewritten after every query; SIGTERM or
SIGINT emits the line from everything completed so far and exits 0.

All diagnostics go to stderr; stdout carries only the JSON line.
"""

from __future__ import annotations

import itertools
import json
import os
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(os.path.abspath(__file__))

from logstash_filter_translate_spark.plans import queries as Q  # noqa: E402
from tools.scalebench import HostMeter  # noqa: E402

BENCH_T0 = time.time()
#: wall-clock budget for the whole run: the phases after the headline
#: start only if they fit what is left of it
BUDGET_S = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "3300"))


def remaining_budget() -> float:
    return BUDGET_S - (time.time() - BENCH_T0)


def rp(p):
    """repo-relative path (bench may be invoked from any cwd)"""
    return os.path.join(REPO, p)

#: every registered query but the RUN_AT_BUILD ones (no build/exec split
#: to time) and exact_docs_lang, the contract's exact map-literal lookup
#: on a second table: it runs the plane exact_events times and adds no
#: plan shape of its own
HEADLINE = [name for name in Q.ALL_QUERIES
            if name not in Q.RUN_AT_BUILD and name != "exact_docs_lang"]


def log(*args):
    print(*args, file=sys.stderr, flush=True)


def force(df):
    df.write.format("noop").mode("overwrite").save()


def _jobs(spark, group: str) -> int:
    """Spark jobs run under ``group``. Counting by group, not by the
    tracker's whole-run total: the status store keeps only the newest
    spark.ui.retainedJobs jobs, so a run-wide count stops moving."""
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def run_headline(spark, sf_dir: str, names) -> dict:
    """Time ``names`` on ``spark``; returns {name: median seconds}. The
    per-rep record is in the HEADLINE side file and STATE after every
    query, so a kill keeps the results so far."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # pay the per-process costs (JVM heap growth, codegen compiler,
    # Python/Arrow worker start) before the first timed query; a
    # long-running cluster amortizes them to zero. Each query is still
    # measured cold-plan (no result caching).
    spark.range(2_000_000).selectExpr("sum(id)").collect()
    # (no type hints: `from __future__ import annotations` stringifies
    # them and breaks pandas_udf's signature inference)
    _warm = pandas_udf(lambda s: s, "long", PandasUDFType.SCALAR)
    force(spark.range(1000).select(_warm("id")))

    sc = spark.sparkContext
    timings, all_reps = {}, {}
    STATE["extras"]["partial"] = True
    try:
        for name in names:
            fn = Q.ALL_QUERIES[name]
            # the untimed warm run absorbs the query's own first-run costs
            # (plan-specific codegen, Python worker shapes): without it
            # rep0 ran 1.5-3x rep1 and per-query deltas tracked noise
            sc.setJobGroup(f"bench:{name}:warm", f"bench:{name}:warm")
            t0 = time.time()
            force(fn(spark, sf_dir))
            warm = time.time() - t0
            rec = {"warm": round(warm, 3), "timed": [], "build_s": [],
                   "exec_s": [], "jobs_build": [], "jobs_exec": []}
            with HostMeter(spark, sc.defaultParallelism) as host:
                for i in range(3):
                    build_group = f"bench:{name}:{i}:build"
                    sc.setJobGroup(build_group, build_group)
                    t0 = time.time()
                    df = fn(spark, sf_dir)
                    build = time.time() - t0
                    exec_group = f"bench:{name}:{i}:exec"
                    sc.setJobGroup(exec_group, exec_group)
                    t0 = time.time()
                    force(df)
                    exe = time.time() - t0
                    rec["timed"].append(round(build + exe, 3))
                    rec["build_s"].append(round(build, 3))
                    rec["exec_s"].append(round(exe, 3))
                    rec["jobs_build"].append(_jobs(spark, build_group))
                    rec["jobs_exec"].append(_jobs(spark, exec_group))
            rec["steal_pct"] = host.metrics["steal_pct"]
            all_reps[name] = rec
            timings[name] = round(statistics.median(rec["timed"]), 3)
            _write_headline_artifact(timings, all_reps,
                                     partial=len(timings) < len(names))
            log(f"  {name}: {timings[name]}s (warm {rec['warm']}s, build "
                f"{rec['build_s']} jobs {rec['jobs_build']}, exec "
                f"{rec['exec_s']} jobs {rec['jobs_exec']}, steal "
                f"{rec['steal_pct']}%)")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return timings


#: artifacts written by this bench run are tagged with the current round
ROUND_TAG = os.environ.get("SPARK_GRAFT_ROUND_TAG", "r10")

#: this run's artifact path, resolved ONCE
_RESOLVED: dict = {}


def _run_artifact() -> str:
    """BENCH/HEADLINE_<tag>.json at the first suffix ('', 'b', 'c', …,
    'z', 'z2', …) no existing file has: a second bench run in one round
    never overwrites the first run's evidence."""
    if "path" not in _RESOLVED:
        os.makedirs(rp("BENCH"), exist_ok=True)
        for suffix in itertools.chain(
            [""], "bcdefghijklmnopqrstuvwxyz",
            (f"z{i}" for i in itertools.count(2)),
        ):
            path = rp(f"BENCH/HEADLINE_{ROUND_TAG}{suffix}.json")
            if not os.path.exists(path):
                break
        _RESOLVED["path"] = path
    return _RESOLVED["path"]


def run_scaling() -> None:
    """One traced perfbench `pages_e2e` run; its `pipeline.scaling_eff`
    becomes extras.scaling. The child gets SIGINT from the signal handler
    (see main): perfbench/run.py then reaps its worker's process group."""
    with open(rp("BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    cmd = [sys.executable, rp("perfbench/run.py"), "--workload", "pages_e2e",
           "--seed", "42", "--seconds", str(seconds), "--trace", "1"]
    log("scaling: " + " ".join(cmd[1:]))
    # own session: a terminal's Ctrl-C or a kill of bench.py's process
    # group reaches the child only through the handler's one SIGINT, and
    # a SIGKILLed bench.py leaves run.py to finish and reap its worker
    proc = subprocess.Popen(cmd, cwd=REPO, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    STATE["child"] = proc
    try:
        out, _ = proc.communicate(timeout=600)
    except subprocess.TimeoutExpired:
        proc.send_signal(signal.SIGINT)
        proc.communicate(timeout=60)
        raise RuntimeError("perfbench run timed out")
    finally:
        STATE["child"] = None
    record_scaling(proc.returncode, out)


def record_scaling(returncode: int, stdout: str) -> None:
    """extras.scaling from a perfbench run's exit code and stdout (its
    last line is the result JSON), or extras.scaling_error saying why
    there is none."""
    extras = STATE["extras"]
    try:
        if returncode != 0:
            raise ValueError(f"perfbench exited {returncode}")
        line = json.loads(stdout.strip().splitlines()[-1])
        eff = line["metrics"]["pipeline.scaling_eff"]["value"]
        if not line["correct"] or not eff:
            raise ValueError(f"no scaling number (correct={line['correct']}, "
                             f"pipeline.scaling_eff={eff})")
    except (ValueError, LookupError, TypeError) as exc:
        extras["scaling_error"] = str(exc)[:200]
        return
    extras["scaling"] = {
        "n": 1,
        # perfbench's worker runs local[os.cpu_count()]
        "n4": os.cpu_count(),
        "efficiency": eff,
        "criterion_met": eff >= 0.8,
        "protocol": "perfbench pages_e2e seed 42 --trace 1",
    }


#: progressively-built result state: the signal handler emits THIS, so a
#: kill at any instant still produces the one parseable stdout JSON line
STATE = {"timings": {}, "total": 0.0, "extras": {}, "sf": 0.1,
         "emitted": False, "child": None}

#: the driver captures only the LAST ~2000 chars of stdout and parses them
#: as JSON; a longer line loses its head and does not parse
STDOUT_LINE_LIMIT = 1900

#: extras keys dropped, in order, while the line is over the limit; the
#: `partial` and `interrupted` flags are never dropped
_TRIM_ORDER = ("scaling_error", "scaling")


def build_stdout_payload() -> dict:
    return {
        "metric": "headline_queries_total",
        "value": STATE["total"],
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in STATE["timings"].items()},
        "queries_file": STATE.get("queries_file"),
        "sf": STATE["sf"],
        "extras": STATE["extras"],
    }


def _dumps(payload: dict) -> str:
    return json.dumps(payload, separators=(",", ":"))


def render_stdout_line(payload: dict) -> str:
    line = _dumps(payload)
    if len(line) <= STDOUT_LINE_LIMIT:
        return line
    extras = dict(payload["extras"])
    payload = dict(payload, extras=extras)
    for key in _TRIM_ORDER:
        if extras.pop(key, None) is None:
            continue
        extras["trimmed_for_size"] = extras.get("trimmed_for_size", []) + [key]
        line = _dumps(payload)
        if len(line) <= STDOUT_LINE_LIMIT:
            return line
    # the per-query map goes last; it is in queries_file either way
    payload["queries"] = {}
    extras["queries_trimmed_for_size"] = True
    line = _dumps(payload)
    if len(line) > STDOUT_LINE_LIMIT:
        log(f"WARNING: stdout JSON line {len(line)} chars exceeds "
            f"STDOUT_LINE_LIMIT={STDOUT_LINE_LIMIT} after all trims")
    return line


def emit_final() -> None:
    if STATE["emitted"]:
        return
    STATE["emitted"] = True
    print(render_stdout_line(build_stdout_payload()), flush=True)


def _write_headline_artifact(
    timings: dict, all_reps: dict, partial: bool
) -> None:
    """Per-query record, rewritten after EVERY completed query: the side
    file is the only home of the per-rep evidence, so a kill mid-headline
    must leave a valid (partial-flagged) file and totals-so-far in STATE
    for the signal handler's line. Atomic rename so a kill mid-write
    can't leave a truncated JSON."""
    STATE["timings"] = timings
    STATE["total"] = round(sum(timings.values()), 3)
    if partial:
        STATE["extras"]["partial"] = True
    else:
        STATE["extras"].pop("partial", None)
    STATE["queries_file"] = os.path.relpath(_run_artifact(), REPO)

    def total(key):
        return round(sum(
            statistics.median(r[key]) for r in all_reps.values()), 3)

    payload = {
        "protocol": "per-query: 1 untimed warm run + 3 timed reps, MEDIAN "
        "reported, steady-state session, cold plan per run; a rep is "
        "build_s (query-function call incl. eager jobs) + exec_s (noop "
        "write), jobs_* are the Spark jobs of each part",
        "medians": timings,
        "totals": {
            "median_of_3": STATE["total"],
            "best_of_3": round(
                sum(min(r["timed"]) for r in all_reps.values()), 3),
            "build_s": total("build_s"),
            "exec_s": total("exec_s"),
            "warm_over_rep_median_ratio": round(statistics.median(
                r["warm"] / max(statistics.median(r["timed"]), 1e-9)
                for r in all_reps.values()), 2),
        },
        "reps": all_reps,
    }
    if partial:
        payload["partial"] = True
    tmp = _run_artifact() + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
    os.replace(tmp, _run_artifact())


def main() -> None:
    from logstash_filter_translate_spark.session import build_session

    names = sys.argv[1:]
    full_run = not names
    unknown = [n for n in names if n not in Q.ALL_QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {' '.join(unknown)}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                              str(len(os.sched_getaffinity(0)))))
    STATE["sf"] = float(
        os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1
    )

    def _on_signal(signum, frame):
        # a kill must still yield the parseable line
        log(f"bench: signal {signum} — emitting partial result")
        STATE["extras"]["interrupted"] = f"signal {signum}"
        child = STATE["child"]
        if child is not None and child.poll() is None:
            # SIGINT, not SIGTERM: perfbench/run.py's finally then reaps
            # its worker's process group (the worker JVM included)
            child.send_signal(signal.SIGINT)
            for _ in range(300):
                if child.poll() is not None:
                    break
                time.sleep(0.1)
        emit_final()
        os._exit(0)

    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)

    log(f"headline queries at {sf_dir} on local[{cpus}]")
    spark = build_session(
        app_name="lfts-bench", master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
    )
    run_headline(spark, sf_dir, names or HEADLINE)
    spark.stop()

    extras = STATE["extras"]
    if full_run:
        # a traced pages_e2e run takes about 110 s
        if remaining_budget() < 240:
            extras["scaling_error"] = (
                f"skipped: {remaining_budget():.0f}s budget left"
            )
        else:
            try:
                run_scaling()
            except Exception as exc:  # never lose the headline line
                log(f"scaling phase failed: {exc}")
                extras["scaling_error"] = str(exc)[:200]

    emit_final()


if __name__ == "__main__":
    main()
