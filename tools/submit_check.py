"""Executable verification of the north-rule deployment shape:
``spark-submit --py-files lfts.zip scripts/run_pipeline.py`` — the way
the job ships to a real multi-executor cluster (the driver never imports
the repo from a working directory; executors get the package from the
zip shipped alongside the job).

Builds the package zip fresh, submits the pipeline in local mode with a
clean PYTHONPATH (so only the --py-files zip can satisfy the imports),
and asserts the run's metrics line: rows processed, zero byte-identity
mismatches, routed output written, and all four ``agg_<name>`` tables
committed (each with ``_SUCCESS``).

Usage: python tools/submit_check.py [n_rows]
Prints one JSON line {"ok": true, "rows": N, ...} and exits nonzero on
any failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "logstash_filter_translate_spark"
AGG_TABLES = ("route_counts", "route_lang_counts", "per_key_histogram",
              "per_lang_hits")


def build_zip(path: str) -> None:
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        pkg_root = os.path.join(REPO, PKG)
        for root, _dirs, files in os.walk(pkg_root):
            if "__pycache__" in root:
                continue
            for f in files:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                zf.write(full, os.path.relpath(full, REPO))


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    scratch = "/tmp/lfts_submit_check"
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    zip_path = os.path.join(scratch, "lfts.zip")
    out_path = os.path.join(scratch, "routed")
    build_zip(zip_path)

    spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    # bench.py's rule: never more task threads than this process's CPUs
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                              str(len(os.sched_getaffinity(0)))))
    cmd = [
        spark_submit,
        "--master", f"local[{cpus}]",
        "--conf", f"spark.sql.shuffle.partitions={cpus}",
        "--conf", "spark.sql.session.timeZone=UTC",
        "--py-files", zip_path,
        os.path.join(REPO, "scripts", "run_pipeline.py"),
        "--generate", str(n_rows),
        "--output", out_path,
        "--checkpoint",
    ]
    # a clean cwd + PYTHONPATH: imports MUST resolve from the zip, the
    # way executors on a real cluster would see them
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        cmd, cwd=scratch, env=env, capture_output=True, text=True,
        timeout=900,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"spark-submit failed rc={proc.returncode}")
    line = next(
        ln for ln in proc.stdout.splitlines() if ln.startswith("{")
    )
    metrics = json.loads(line)["metrics"]
    assert int(metrics["rows"]) == n_rows, metrics
    assert int(metrics.get("extract_mismatches", 0)) == 0, metrics
    routed_dir = os.path.join(out_path, "routed")
    assert os.path.isdir(routed_dir), "routed sink missing"
    routes = [d for d in os.listdir(routed_dir) if d.startswith("route=")]
    assert routes, f"no route partitions under {routed_dir}"
    for name in AGG_TABLES:
        agg_dir = os.path.join(out_path, f"agg_{name}")
        assert os.path.isfile(os.path.join(agg_dir, "_SUCCESS")), \
            f"aggregate table {agg_dir} missing or uncommitted"
    print(json.dumps({
        "ok": True,
        "rows": n_rows,
        "route_partitions": sorted(routes),
        "zip": zip_path,
    }))


if __name__ == "__main__":
    main()
