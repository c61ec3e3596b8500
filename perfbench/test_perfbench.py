"""The benchmark's own tests.

  python3 -m pytest perfbench/test_perfbench.py -q

Covers generator determinism, metric names against BENCHMARK.json, that
the pages ladder's partial rungs build the program's enrich stage, and
that a corrupted sink row or lookup value makes the result count failures
(error_rate > 0).
"""

from __future__ import annotations

import csv
import glob
import json
import os
import re
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture
def tiny(monkeypatch):
    """Generator sizes small enough for a unit test."""
    for name, value in {
        "PAGES_ROWS": 400, "LOOKUP_ROWS": 400, "BIG_KEYS": 300, "ITER_KEYS": 100,
    }.items():
        monkeypatch.setattr(gen, name, value)


def test_generator_same_seed_same_bytes(tiny, tmp_path):
    a = gen.generate(7, str(tmp_path / "a"))["files"]
    b = gen.generate(7, str(tmp_path / "b"))["files"]
    assert a == b and len(a) > 20


def test_generator_other_seed_other_rows(tiny, tmp_path):
    a = gen.generate(7, str(tmp_path / "a"))["files"]
    b = gen.generate(8, str(tmp_path / "b"))["files"]
    data = [f for f in a if f.endswith(".parquet")]
    assert data and all(a[f] != b[f] for f in data)


def test_metric_names_and_units():
    for name, unit in {**run.END_TO_END, **run.PER_LAYER}.items():
        assert NAME.match(name), name
        assert UNIT.match(unit), unit
    assert not set(run.END_TO_END) & set(run.PER_LAYER)


def test_benchmark_json_matches_run():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert spec["paths"] == ["perfbench"]


def _lookup_reference(d: str) -> dict:
    """Distinct (key, value) pairs a correct lookup_heavy job produces."""
    events = pq.read_table(os.path.join(d, "events")).to_pylist()
    small = checks.read_csv(os.path.join(d, "small.csv"))
    big = checks.read_json(os.path.join(d, "big.json"))
    tags = checks.read_yaml(os.path.join(d, "tags.yml"))
    with open(os.path.join(d, "regex.csv"), newline="") as fh:
        table = [(re.compile(p), v) for p, v in csv.reader(fh)]
    return {
        "small": {(e["k_small"], small.get(e["k_small"], checks.MISS)) for e in events},
        "big": {(e["k_big"], big.get(e["k_big"], checks.MISS)) for e in events},
        "tags": {(t, tags.get(t, checks.MISS)) for e in events for t in e["tags"]},
        "regex": {(e["msg"], checks.regex_first_match(table, e["msg"])) for e in events},
    }


def _result(ops: int, errors) -> dict:
    import worker

    res = {"attempted": ops, "errors": errors,
           "failed": worker.failed_ops([{"ok": True}] * ops, errors)}
    return run.summarize(res, trace=0)


def test_corrupted_lookup_value_counts_as_failure(tiny, tmp_path):
    gen.generate(3, str(tmp_path), "lookup_heavy")
    d = str(tmp_path / "lookup")
    got = _lookup_reference(d)
    assert checks.lookup_errors(d, got) == []
    key, value = sorted(got["big"])[0]
    got["big"] = (got["big"] - {(key, value)}) | {(key, value + "x")}
    errors = checks.lookup_errors(d, got)
    assert errors
    line = _result(4, errors)
    assert not line["correct"] and line["failed"] / line["attempted"] > 0


@pytest.fixture(scope="module")
def spark():
    import worker

    s = worker.new_session(2)
    yield s
    s.stop()


def _optimized_plan(df) -> str:
    """The optimized logical plan with expression ids and the numbers of
    lambda variables blanked out."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"(lambda \w+?)_\d+", r"\1", re.sub(r"#\d+L?", "#", plan))


def test_partial_ladder_rungs_copy_the_enrich_stage(tiny, tmp_path, spark):
    """The partial translate rungs rebuild enrich_stage's Translates; all
    four of them must give the program's own plan."""
    import worker
    from logstash_filter_translate_spark.plans import pipeline as P

    gen.generate(5, str(tmp_path / "data"), "pages_e2e")
    w = worker.PagesE2E(str(tmp_path / "data"), str(tmp_path / "work"))
    w.prepare(spark, quarter=False)
    copy = w.partial(len(w._translates()))
    stage = P.enrich_stage(P.parse_stage(spark.read.parquet(w.src)), spark)
    assert copy.schema == stage.schema
    assert _optimized_plan(copy) == _optimized_plan(stage)


def test_corrupted_sink_row_counts_as_failure(tiny, tmp_path, spark):
    import worker

    gen.generate(5, str(tmp_path / "data"), "pages_e2e")
    w = worker.PagesE2E(str(tmp_path / "data"), str(tmp_path / "work"))
    w.prepare(spark, quarter=False)
    assert w.op() == gen.PAGES_ROWS
    assert w.errors() == []
    routed = tmp_path / "work" / "pages_out" / "routed" / "route=matched"
    part = sorted(glob.glob(str(routed / "*" / "*.parquet")))[0]
    t = pq.read_table(part)
    i = t.schema.get_field_index("status_text")
    col = t.column(i).to_pylist()
    col[0] = col[0] + " (corrupted)"
    pq.write_table(t.set_column(i, "status_text", pa.array(col, t.schema.field(i).type)), part)
    errors = w.errors()
    assert any("routed" in e for e in errors)
    line = _result(3, errors)
    assert not line["correct"] and line["failed"] == 3
