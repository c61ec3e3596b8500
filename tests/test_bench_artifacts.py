"""Unit guards for bench.py's artifact plumbing: a second bench run in the
same round must never overwrite the first run's evidence, the stdout line
must fit the driver's tail capture with the per-query map on it, and the
headline's side file must survive a kill.
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def _fake_repo(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    monkeypatch.setattr(bench, "_RESOLVED", {})
    monkeypatch.setattr(
        bench, "STATE",
        {"timings": {}, "total": 0.0, "extras": {}, "sf": 0.1,
         "emitted": False, "child": None},
    )
    os.makedirs(tmp_path / "BENCH", exist_ok=True)


def test_run_suffix_is_fresh_then_r5b_convention(tmp_path, monkeypatch):
    _fake_repo(tmp_path, monkeypatch)
    tag = bench.ROUND_TAG
    # fresh round → no suffix
    assert bench._run_artifact().endswith(f"HEADLINE_{tag}.json")
    # a second run in the same round suffixes with 'b', never
    # overwriting the first run's evidence
    p = tmp_path / "BENCH" / f"HEADLINE_{tag}.json"
    p.write_text("{}")
    monkeypatch.setattr(bench, "_RESOLVED", {})
    assert bench._run_artifact().endswith(f"HEADLINE_{tag}b.json")
    assert os.path.exists(p)


def _scaling_line(eff=0.9134567891234567):
    return json.dumps({
        "correct": True, "attempted": 3, "failed": 0,
        "metrics": {"pipeline.scaling_eff": {"value": eff, "unit": "ratio"},
                    "io.scan_s": {"value": 0.3, "unit": "s"}},
    })


def test_stdout_line_fits_driver_tail_capture(tmp_path, monkeypatch):
    """The driver parses only the last ~2000 chars of stdout. Worst case:
    every HEADLINE query at 99.99 s and the scaling record — the line must
    fit, round-trip, and carry a median for every query (a line with an
    empty map reports no per-query time at all)."""
    _fake_repo(tmp_path, monkeypatch)
    bench.STATE.update(
        timings={name: 99.987 for name in bench.HEADLINE},
        total=round(99.987 * len(bench.HEADLINE), 3),
        queries_file="BENCH/HEADLINE_r10z.json",
    )
    bench.record_scaling(0, "pages_e2e io.scan_s 0.3 s\n" + _scaling_line())
    line = bench.render_stdout_line(bench.build_stdout_payload())
    assert len(line) <= bench.STDOUT_LINE_LIMIT
    parsed = json.loads(line)
    assert parsed["queries"] == {name: 99.99 for name in bench.HEADLINE}
    assert parsed["queries_file"] == "BENCH/HEADLINE_r10z.json"
    scaling = parsed["extras"]["scaling"]
    assert scaling["efficiency"] == 0.9134567891234567
    assert scaling["criterion_met"] is True
    assert (scaling["n"], scaling["n4"]) == (1, os.cpu_count())
    assert "trimmed_for_size" not in parsed["extras"]


def test_stdout_line_trims_gracefully_when_oversized(tmp_path, monkeypatch):
    """The one overflow guard: extras keys go first, in _TRIM_ORDER; if
    the line still does not fit, the per-query map goes (it is in
    queries_file) and a flag says so. The partial flags always stay."""
    _fake_repo(tmp_path, monkeypatch)
    timings = {name: 1.0 for name in bench.HEADLINE}
    bench.STATE.update(timings=timings, total=65.0)
    extras = bench.STATE["extras"]
    extras.update(partial=True, interrupted="signal 15",
                  scaling_error="x" * 200)
    bench.record_scaling(0, _scaling_line())
    line = bench.render_stdout_line(bench.build_stdout_payload())
    parsed = json.loads(line)
    assert len(line) <= bench.STDOUT_LINE_LIMIT
    assert parsed["queries"] == timings
    assert parsed["extras"]["trimmed_for_size"] == ["scaling_error"]
    assert parsed["extras"]["scaling"]["efficiency"] == 0.9134567891234567
    # the renderer works on a copy: STATE keeps every key
    assert "scaling_error" in extras

    timings.update({f"extra_query_{i:03d}": 1.0 for i in range(60)})
    line = bench.render_stdout_line(bench.build_stdout_payload())
    parsed = json.loads(line)
    assert len(line) <= bench.STDOUT_LINE_LIMIT
    assert parsed["queries"] == {}
    assert parsed["extras"]["queries_trimmed_for_size"] is True
    assert parsed["extras"]["partial"] is True
    assert parsed["extras"]["interrupted"] == "signal 15"


def test_scaling_reader_takes_perfbench_last_line(tmp_path, monkeypatch):
    _fake_repo(tmp_path, monkeypatch)
    out = "pages_e2e pipeline.scaling_eff 0.734 ratio\n" + _scaling_line(0.734)
    bench.record_scaling(0, out)
    scaling = bench.STATE["extras"]["scaling"]
    assert scaling["efficiency"] == 0.734
    assert scaling["criterion_met"] is False
    assert "perfbench pages_e2e" in scaling["protocol"]
    assert "scaling_error" not in bench.STATE["extras"]


@pytest.mark.parametrize(
    "returncode, stdout, reason",
    [
        (1, "", "exited 1"),
        (0, json.dumps({"correct": True, "metrics": {}}), "scaling_eff"),
    ],
    ids=["nonzero_exit", "missing_metric"],
)
def test_scaling_reader_failure_sets_error_and_keeps_line(
    tmp_path, monkeypatch, returncode, stdout, reason
):
    _fake_repo(tmp_path, monkeypatch)
    bench.STATE.update(timings={"exact_events": 0.5}, total=0.5)
    bench.record_scaling(returncode, stdout)
    assert "scaling" not in bench.STATE["extras"]
    assert reason in bench.STATE["extras"]["scaling_error"]
    parsed = json.loads(bench.render_stdout_line(bench.build_stdout_payload()))
    assert parsed["queries"] == {"exact_events": 0.5}
    assert reason in parsed["extras"]["scaling_error"]


def test_headline_artifact_written_incrementally_and_kill_safe(
    tmp_path, monkeypatch
):
    """The HEADLINE side file is the only durable home of the per-rep
    evidence, so it is (re)written after every query, partial-flagged,
    with totals-so-far in STATE for the signal handler's emit path."""
    _fake_repo(tmp_path, monkeypatch)
    reps = {"q1": {"warm": 1.2, "timed": [1.0, 1.1, 1.0],
                   "build_s": [0.2, 0.3, 0.2], "exec_s": [0.8, 0.8, 0.8],
                   "jobs_build": [0, 0, 0], "jobs_exec": [1, 1, 1],
                   "steal_pct": 0.0}}
    bench._write_headline_artifact({"q1": 1.0}, reps, partial=True)

    path = bench._run_artifact()
    with open(path) as fh:
        on_disk = json.load(fh)
    assert on_disk["partial"] is True
    assert on_disk["medians"] == {"q1": 1.0}
    assert on_disk["totals"]["build_s"] == 0.2
    assert bench.STATE["queries_file"] == os.path.relpath(path, str(tmp_path))
    assert bench.STATE["extras"]["partial"] is True
    # the handler's emit path surfaces the evidence-so-far
    payload = bench.build_stdout_payload()
    assert payload["queries_file"] == bench.STATE["queries_file"]
    assert payload["queries"] == {"q1": 1.0}
    assert payload["value"] == 1.0

    # second query lands; final rewrite clears the partial flag
    reps["q2"] = {"warm": 0.5, "timed": [0.4, 0.4, 0.4],
                  "build_s": [0.1, 0.1, 0.1], "exec_s": [0.3, 0.3, 0.3],
                  "jobs_build": [0, 0, 0], "jobs_exec": [2, 2, 2],
                  "steal_pct": 0.0}
    bench._write_headline_artifact({"q1": 1.0, "q2": 0.4}, reps,
                                   partial=False)
    with open(path) as fh:
        final = json.load(fh)
    assert "partial" not in final
    assert final["medians"] == {"q1": 1.0, "q2": 0.4}
    assert "partial" not in bench.STATE["extras"]
    assert not os.path.exists(path + ".tmp")


def test_run_headline_splits_each_rep_into_build_and_exec(
    spark, testdata_dir, tmp_path, monkeypatch
):
    """Two real queries through the headline loop: every rep is recorded
    as build + exec with the jobs of each part, the side file carries the
    record, and the stdout map is the side file's medians at 0.01 s."""
    _fake_repo(tmp_path, monkeypatch)
    names = ["exact_events", "route_histogram"]
    timings = bench.run_headline(spark, testdata_dir, names)
    assert list(timings) == names

    with open(bench._run_artifact()) as fh:
        side = json.load(fh)
    assert "partial" not in side and "partial" not in bench.STATE["extras"]
    assert side["medians"] == timings
    for name in names:
        rec = side["reps"][name]
        assert set(rec) == {"warm", "timed", "build_s", "exec_s",
                            "jobs_build", "jobs_exec", "steal_pct"}
        for key in ("timed", "build_s", "exec_s", "jobs_build", "jobs_exec"):
            assert len(rec[key]) == 3, key
        for timed, build, exe in zip(rec["timed"], rec["build_s"],
                                     rec["exec_s"]):
            assert abs(timed - (build + exe)) <= 0.0015
        # the noop write is at least one job; a build may run eager ones
        assert all(j >= 1 for j in rec["jobs_exec"])
        assert all(j >= 0 for j in rec["jobs_build"])
    payload = bench.build_stdout_payload()
    assert payload["queries"] == {
        k: round(v, 2) for k, v in side["medians"].items()
    }
    # the job group does not leak into later work on the session
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
