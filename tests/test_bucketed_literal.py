"""The bucketed map-literal exact plane (``lookup.ExactMapLiteral``) equals
a plain Python dict lookup, with one bucket and with many, for every value
type the plane can carry."""

import json
import math
import os
import sys
import zlib

import pytest
from pyspark.sql import functions as F

from logstash_filter_translate_spark.config import TranslateConfig
from logstash_filter_translate_spark.operators import lookup
from logstash_filter_translate_spark.operators.lookup import (
    ExactJoin,
    ExactMapLiteral,
)
from logstash_filter_translate_spark.operators.translate import Translate

# keys a probe meets: the empty key, non-ASCII ones, a duplicate (the last
# pair wins), a null-valued one; probes add misses and a NULL key
KEYS = ["", "a", "é", "日本語", "🙂 k", "dup", "nul"] + [f"k{i}" for i in range(40)]
PROBES = KEYS + ["miss", "ä", None]

VALUES = {
    "string": lambda i: f"v{i}",
    "long": lambda i: i * (2**40) - 7,
    "double": lambda i: [float("nan"), float("inf"), -1.5][i % 3] if i < 3 else i / 7,
    "bool": lambda i: i % 2 == 0,
    "array": lambda i: [i, None, -i],
    "variant": lambda i: [{"e": [i, "x"]}, i, "s", True, 1.25][i % 5],
    "json": lambda i: [{"e": [i, "x"]}, i, "s"][i % 3],
}


def _pairs(kind):
    make = VALUES[kind]
    pairs = [(k, make(i)) for i, k in enumerate(KEYS)]
    pairs.append(("dup", make(len(KEYS))))  # last occurrence wins
    return [(k, None if k == "nul" else v) for k, v in pairs]


def _same(kind, got, want):
    if want is None:  # SQL NULL, also for VARIANT
        return got is None
    if kind in ("variant", "json"):
        return json.loads(got) == want
    if kind == "double" and math.isnan(want):
        return math.isnan(got)
    return got == want


@pytest.mark.parametrize("bucket_keys", [sys.maxsize, 2], ids=["one_bucket", "many_buckets"])
@pytest.mark.parametrize("kind", sorted(VALUES))
def test_bucketed_probe_equals_dict_lookup(spark, monkeypatch, kind, bucket_keys):
    monkeypatch.setattr(lookup, "BUCKET_KEYS", bucket_keys)
    pairs = _pairs(kind)
    strat = ExactMapLiteral(pairs, nested="typed" if kind in ("array", "variant") else "json")
    assert kind != "array" or strat.value_type.simpleString() == "array<bigint>"
    assert strat._n_buckets == (1 if bucket_keys == sys.maxsize else 24)
    want = dict(pairs)
    df = spark.createDataFrame([(k,) for k in PROBES], "k string")
    p = strat.probe(F.col("k"))
    value = F.to_json(p.value) if kind == "variant" else p.value
    rows = df.select("k", p.matched.alias("m"), value.alias("v")).collect()
    assert len(rows) == len(PROBES)
    for r in rows:
        hit = r["k"] is not None and r["k"] in want
        assert r["m"] is hit, r
        assert not hit or _same(kind, r["v"], want[r["k"]]), r


def test_bucket_placement_matches_spark_crc32(spark):
    n = 7
    df = spark.createDataFrame([(k,) for k in KEYS], "k string")
    got = {r["k"]: r["b"] for r in df.select("k", (F.crc32("k") % n).alias("b")).collect()}
    assert got == {k: lookup.bucket_of(k, n) for k in KEYS}
    assert lookup.bucket_of("é", 1 << 32) == zlib.crc32("é".encode("utf-8"))


def test_iterate_on_literal_plane_equals_dict_lookup(spark, monkeypatch):
    monkeypatch.setattr(lookup, "BUCKET_KEYS", 2)
    pairs = _pairs("string")
    want = dict(pairs)
    op = Translate(
        TranslateConfig(
            source="ks", iterate_on="ks", target="t", dictionary=pairs, fallback="?"
        ),
        spark=spark,
    )
    assert isinstance(op.strategy, ExactMapLiteral) and op.strategy._n_buckets > 1
    df = spark.createDataFrame([(1, PROBES)], "id int, ks array<string>")
    got = op.apply(df).collect()[0]["t"]
    expect = [
        "?" if k is None or k not in want else want[k] for k in PROBES
    ]
    assert got == expect


def test_literal_folds_no_per_row_json_parse(spark, monkeypatch):
    monkeypatch.setattr(lookup, "BUCKET_KEYS", 4)
    df = spark.createDataFrame([("k1", ["k2", "x"])], "k string, ks array<string>")
    pairs = [(f"k{i}", f"v{i}") for i in range(64)] + [("n", None)]
    scalar = Translate(TranslateConfig(source="k", target="t", dictionary=pairs), spark=spark)
    each = Translate(
        TranslateConfig(source="ks", iterate_on="ks", target="ts", dictionary=pairs),
        spark=spark,
    )
    assert isinstance(scalar.strategy, ExactMapLiteral)
    out = each.apply(scalar.apply(df), route_col="route2")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "from_json" not in plan
    assert "crc32" in plan  # many buckets: the probe hashes the key
    assert out.collect()[0]["t"] == "v1"


def test_out_of_range_long_value_fails_at_plan_time(spark):
    # from_json would null the whole bucket array and every key would miss
    with pytest.raises(ValueError, match="int64"):
        Translate(TranslateConfig(source="k", target="t", dictionary={"a": 2**70, "b": 1}))
    with pytest.raises(ValueError, match="int64"):
        ExactMapLiteral([("a", [1, -(2**63) - 1])], nested="typed")
    # the regex plane would otherwise fail only when a job runs the UDF
    with pytest.raises(ValueError, match="int64"):
        Translate(TranslateConfig(source="msg", target="t", regex=True,
                                  dictionary=[("^a", 2**63)]))
    ExactMapLiteral([("a", 2**63 - 1), ("b", -(2**63))])  # the int64 edges fit


def test_refresh_switches_plane_both_ways(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(lookup, "MAP_LITERAL_MAX_ENTRIES", 8)
    path = tmp_path / "d.csv"
    stamp = [1e9]

    def write(n, prefix):
        path.write_text("".join(f"k{i},{prefix}{i}\n" for i in range(n)))
        stamp[0] += 10
        os.utime(path, (stamp[0], stamp[0]))

    write(8, "a")
    op = Translate(
        TranslateConfig(
            source="k", target="t", dictionary_path=str(path), fallback="fb",
            refresh_behaviour="replace",
        ),
        spark=spark,
    )
    df = spark.createDataFrame([("k0",), ("k7",), ("k8",), ("k12",)], "k string")

    def got():
        return {r["k"]: r["t"] for r in op.apply(df).collect()}

    assert isinstance(op.strategy, ExactMapLiteral)
    assert got() == {"k0": "a0", "k7": "a7", "k8": "fb", "k12": "fb"}
    write(13, "b")
    assert op.refresh() is True
    assert isinstance(op.strategy, ExactJoin)
    assert got() == {"k0": "b0", "k7": "b7", "k8": "b8", "k12": "b12"}
    write(3, "c")
    assert op.refresh() is True
    assert isinstance(op.strategy, ExactMapLiteral)
    assert got() == {"k0": "c0", "k7": "fb", "k8": "fb", "k12": "fb"}
