"""Repeat the benchmark over seeds and record medians and quartiles.

  python3 perfbench/sweep.py --seeds 1-20 [--sets 2] [--workloads a,b]
      [--trace 0|1] [--out FILE]

Runs ``run.py`` once per (seed, workload) with the window ``run_seconds``
of BENCHMARK.json, one process per measurement, rotating which workload
goes first with each seed. The seeds are split into ``--sets`` consecutive
sets of equal size. For every set and every metric x workload pair it
records the values, their median, first and third quartile
(``statistics.quantiles(n=4)``) and the spread (q3 - q1) / median, plus
each run's wall time; with two or more sets, ``agreement`` gives each later
set's median as a share of the first set's. The record is rewritten after
every run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import ROOT, WORKLOADS  # noqa: E402


def seeds_of(spec: str):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summary(runs: list) -> dict:
    out = {}
    for r in runs:
        w = out.setdefault(r["workload"], {"wall_s": [], "correct": [], "metrics": {}})
        w["wall_s"].append(r["wall_s"])
        w["correct"].append(r["line"]["correct"] if r["line"] else None)
        for name, m in (r["line"] or {}).get("metrics", {}).items():
            w["metrics"].setdefault(name, {"unit": m["unit"], "values": []})["values"].append(m["value"])
    for w in out.values():
        for m in w["metrics"].values():
            v = m["values"]
            m["median"] = statistics.median(v)
            if len(v) >= 2:
                q1, _, q3 = statistics.quantiles(v, n=4)
                m.update(q1=q1, q3=q3, spread=(q3 - q1) / m["median"] if m["median"] else None)
    return out


def agreement(sets: list) -> dict:
    """Each later set's median / the first set's, per workload and metric."""
    first = sets[0]["summary"]
    out = {}
    for s in sets[1:]:
        for w, d in s["summary"].items():
            for name, m in d["metrics"].items():
                base = first.get(w, {}).get("metrics", {}).get(name, {}).get("median")
                if base:
                    out.setdefault(w, {}).setdefault(name, []).append(m["median"] / base)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default=os.path.join(".perfbench", "sweep.json"))
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    workloads = a.workloads.split(",")
    seeds = seeds_of(a.seeds)
    per_set = len(seeds) // a.sets
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    sets = []
    for i, seed in enumerate(seeds[: per_set * a.sets]):
        if i % per_set == 0:
            sets.append({"seeds": seeds[i : i + per_set], "runs": []})
        runs = sets[-1]["runs"]
        k = i % len(workloads)
        for w in workloads[k:] + workloads[:k]:
            t0 = time.monotonic()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(seconds), "--trace", str(a.trace)],
                capture_output=True, text=True,
            )
            lines = p.stdout.strip().splitlines()
            line = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            runs.append({"workload": w, "seed": seed, "rc": p.returncode,
                         "wall_s": time.monotonic() - t0, "line": line})
            print(f"seed {seed} {w} rc={p.returncode} wall={runs[-1]['wall_s']:.1f}s "
                  + (json.dumps({k: round(m["value"], 4) for k, m in line["metrics"].items()})
                     if line else p.stderr[-300:]), flush=True)
            sets[-1]["summary"] = summary(runs)
            with open(a.out + ".tmp", "w") as fh:
                json.dump({"seconds": seconds, "trace": a.trace, "cpus": os.cpu_count(),
                           "sets": sets, "agreement": agreement(sets)}, fh, indent=1)
            os.replace(a.out + ".tmp", a.out)


if __name__ == "__main__":
    main()
