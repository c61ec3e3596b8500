"""Nested event-path targets and type-faithful nested dictionary values:
intermediate levels are created, and nested values keep their types.

Reference semantics:
  - ``event.set("[a][b]", v)`` creates intermediate levels
    (single_value_update.rb:41-44; array_of_maps_value_update.rb:23-25);
  - nested dictionary values keep their types — dict.yml maps
    ``d → {"e": [1, "hello", true, "false", "1", "1.1"]}`` and the spec
    asserts each element's type (translate_spec.rb:237-240).
"""

import pytest
from pyspark.sql import functions as F

from logstash_filter_translate_spark.config import (
    TranslateConfig,
    TranslateConfigError,
)
from logstash_filter_translate_spark.operators.translate import Translate
from tests.conftest import exact_plane


# -- nested targets -------------------------------------------------------------

def test_nested_target_creates_struct(spark):
    df = spark.createDataFrame([("200",), ("999",)], "status string")
    out = Translate(
        TranslateConfig(
            source="status", target="[http][status_text]",
            dictionary={"200": "OK"}, fallback="none",
        ),
        spark=spark,
    ).apply(df)
    rows = {r["status"]: r for r in out.collect()}
    assert rows["200"]["http"]["status_text"] == "OK"
    assert rows["999"]["http"]["status_text"] == "none"
    assert rows["200"]["route"] == "matched"


def test_nested_target_extends_existing_struct(spark):
    df = spark.createDataFrame(
        [(1, ("keep", "200"))],
        "id int, http struct<method:string, status:string>",
    )
    # nested source read ([http][status]) + nested target write
    out = Translate(
        TranslateConfig(
            source="[http][status]",
            target="[http][status_text]",
            dictionary={"200": "OK"},
        ),
        spark=spark,
    ).apply(df)
    r = out.collect()[0]
    assert r["http"]["method"] == "keep"  # sibling fields survive
    assert r["http"]["status"] == "200"
    assert r["http"]["status_text"] == "OK"


def test_nested_target_override_gate(spark):
    df = spark.createDataFrame(
        [(1, ("preset",)), (2, (None,))],
        "id int, a struct<b:string>",
    )
    out = Translate(
        TranslateConfig(
            source="id", target="[a][b]",
            dictionary={"1": "ONE", "2": "TWO"}, override=False,
        ),
        spark=spark,
    ).apply(df)
    rows = {r["id"]: r for r in out.collect()}
    # existing non-null nested target + override=false → skipped
    assert rows[1]["a"]["b"] == "preset"
    assert rows[1]["route"] == "skipped"
    assert rows[2]["a"]["b"] == "TWO"
    assert rows[2]["route"] == "matched"


def test_nested_target_three_levels_and_replace_scalar(spark):
    # "a" exists as a scalar — event.set replaces it with a map
    df = spark.createDataFrame([(1, "flat")], "id int, a string")
    out = Translate(
        TranslateConfig(
            source="id", target="[a][b][c]", dictionary={"1": "deep"},
        ),
        spark=spark,
    ).apply(df)
    assert out.collect()[0]["a"]["b"]["c"] == "deep"


def test_array_index_target_raises_clearly(spark):
    df = spark.createDataFrame([(1,)], "id int")
    with pytest.raises(Exception, match="array index"):
        Translate(
            TranslateConfig(
                source="id", target="[a][0][b]", dictionary={"1": "x"},
            ),
            spark=spark,
        ).apply(df).collect()


# -- typed nested dictionary values ----------------------------------------------

DICT_YML_PAIRS = [
    ("a", 1),
    ("b", 2),
    ("c", 3),
    ("d", {"e": [1, "hello", True, "false", "1", "1.1"]}),
]


def test_typed_nested_values_variant_access(spark):
    # translate_spec.rb:237-240 — each element keeps its type
    df = spark.createDataFrame([("d",), ("a",)], "k string")
    out = Translate(
        TranslateConfig(
            source="k", target="translation",
            dictionary=DICT_YML_PAIRS, nested_values="typed",
        ),
        spark=spark,
    ).apply(df)
    assert dict(out.dtypes)["translation"] == "variant"
    got = out.filter(F.col("k") == "d").select(
        F.try_variant_get("translation", "$.e[0]", "long").alias("i"),
        F.try_variant_get("translation", "$.e[1]", "string").alias("s"),
        F.try_variant_get("translation", "$.e[2]", "boolean").alias("t"),
        F.try_variant_get("translation", "$.e[3]", "string").alias("f"),
        F.try_variant_get("translation", "$.e[5]", "string").alias("v"),
    ).collect()[0]
    assert (got["i"], got["s"], got["t"]) == (1, "hello", True)
    assert (got["f"], got["v"]) == ("false", "1.1")
    # scalar key through the variant plane still lands and routes
    a_row = out.filter(F.col("k") == "a").select(
        F.try_variant_get("translation", "$", "long").alias("v"), "route"
    ).collect()[0]
    assert a_row["v"] == 1 and a_row["route"] == "matched"


def test_typed_nested_values_variant_broadcast_plane(spark):
    df = spark.createDataFrame([("d",), ("zzz",)], "k string")
    with exact_plane("join"):
        op = Translate(
            TranslateConfig(
                source="k", target="translation",
                dictionary=DICT_YML_PAIRS, nested_values="typed",
            ),
            spark=spark,
        )
    from logstash_filter_translate_spark.operators.lookup import (
        ExactJoin,
    )

    assert isinstance(op.strategy, ExactJoin)
    out = op.apply(df)
    rows = {r["k"]: r for r in out.collect()}
    assert rows["zzz"]["route"] == "unmatched"
    got = out.filter(F.col("k") == "d").select(
        F.try_variant_get("translation", "$.e[1]", "string").alias("s")
    ).collect()[0]
    assert got["s"] == "hello"


def test_typed_uniform_lists_become_real_arrays(spark):
    df = spark.createDataFrame([("x",), ("y",)], "k string")
    out = Translate(
        TranslateConfig(
            source="k", target="t",
            dictionary={"x": [1, 2, 3], "y": [9]}, nested_values="typed",
        ),
        spark=spark,
    ).apply(df)
    assert dict(out.dtypes)["t"] == "array<bigint>"
    rows = {r["k"]: r["t"] for r in out.collect()}
    assert rows["x"] == [1, 2, 3] and rows["y"] == [9]


def test_typed_values_json_default_unchanged(spark):
    # default stays the documented JSON-string deviation
    df = spark.createDataFrame([("d",)], "k string")
    out = Translate(
        TranslateConfig(
            source="k", target="t", dictionary=DICT_YML_PAIRS,
        ),
        spark=spark,
    ).apply(df)
    assert dict(out.dtypes)["t"] == "string"
    import json

    assert json.loads(out.collect()[0]["t"])["e"][1] == "hello"


def test_typed_values_config_guards():
    with pytest.raises(TranslateConfigError, match="fallback"):
        TranslateConfig(
            source="k", dictionary=DICT_YML_PAIRS,
            nested_values="typed", fallback="fb",
        ).validate()
    with pytest.raises(TranslateConfigError, match="exact mode"):
        TranslateConfig(
            source="k", dictionary=[("a", "b")],
            nested_values="typed", exact=False,
        ).validate()


# -- literal array-index nested writes ([a][0][b] targets) -----------------------
# reference: array_of_maps_value_update.rb:23-25 builds numeric set paths;
# the columnar analogue rebuilds the array with a position-guarded transform.

def test_array_index_write_scalar_element(spark):
    from logstash_filter_translate_spark.functions.paths import (
        parse_path, with_path,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, ["a", "b", "c"]), (2, None)], "id int, arr array<string>"
    )
    out = with_path(df, parse_path("[arr][1]"), F.lit("X"))
    rows = {r["id"]: r["arr"] for r in out.collect()}
    assert rows[1] == ["a", "X", "c"]
    assert rows[2] is None  # NULL array stays NULL


def test_array_index_write_struct_field_in_element(spark):
    from logstash_filter_translate_spark.functions.paths import (
        parse_path, with_path,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, [{"b": "x"}, {"b": "y"}])], "id int, a array<struct<b:string>>"
    )
    out = with_path(df, parse_path("[a][1][b]"), F.lit("W"))
    assert [e["b"] for e in out.collect()[0]["a"]] == ["x", "W"]


def test_array_index_write_through_translate_target(spark):
    # full-operator path: target addresses an array element's field
    df = spark.createDataFrame(
        [(1, "click", [{"t": None}, {"t": None}])],
        "id int, k string, a array<struct<t:string>>",
    )
    out = Translate(
        TranslateConfig(
            source="k", target="[a][0][t]", dictionary={"click": "Click"},
        ),
        spark=spark,
    ).apply(df)
    row = out.collect()[0]
    assert [e["t"] for e in row["a"]] == ["Click", None]
    assert row["route"] == "matched"


def test_array_index_override_gate(spark):
    # override=false + pre-populated element value → write skipped
    df = spark.createDataFrame(
        [(1, "click", [{"t": "preset"}])],
        "id int, k string, a array<struct<t:string>>",
    )
    out = Translate(
        TranslateConfig(
            source="k", target="[a][0][t]",
            dictionary={"click": "Click"}, override=False,
        ),
        spark=spark,
    ).apply(df)
    row = out.collect()[0]
    assert [e["t"] for e in row["a"]] == ["preset"]
    assert row["route"] == "skipped"


def test_array_index_out_of_bounds_raises_runtime(spark):
    from logstash_filter_translate_spark.functions.paths import (
        parse_path, with_path,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, ["only"])], "id int, arr array<string>")
    with pytest.raises(Exception, match="out of bounds"):
        with_path(df, parse_path("[arr][7]"), F.lit("X")).collect()


def test_array_index_no_array_level_raises_plan_time(spark):
    from logstash_filter_translate_spark.functions.paths import (
        parse_path, with_path,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, "scalar")], "id int, a string")
    with pytest.raises(ValueError, match="array index"):
        with_path(df, parse_path("[a][0]"), F.lit("X"))


def test_html_str_untrusted_handles_malformed_utf8(spark):
    """cast('string') is only value-identical to decode for
    valid UTF-8. The untrusted-ingest variant must (a) equal the fast
    path byte-for-byte on valid input and (b) substitute U+FFFD on
    malformed bytes instead of silently wrapping them."""
    from pyspark.sql import functions as F

    from logstash_filter_translate_spark.functions.html import (
        html_str,
        html_str_untrusted,
    )

    df = spark.createDataFrame(
        [(1, bytearray("héllo <p>ok</p>".encode("utf-8"))),
         (2, bytearray(b"\xff\xfe broken \x80"))],
        "id int, html binary",
    )
    out = (
        df.select(
            "id",
            html_str(F.col("html")).alias("fast"),
            html_str_untrusted(F.col("html")).alias("safe"),
        )
        .orderBy("id")
        .collect()
    )
    assert out[0]["safe"] == out[0]["fast"] == "héllo <p>ok</p>"
    # malformed: decode substitutes U+FFFD; the raw-wrap fast path differs
    assert "�" in out[1]["safe"]
    assert " broken " in out[1]["safe"]


def test_sprintf_array_index_dotted_segment_and_nested_missing(spark):
    """Three reference sprintf behaviors, all via the canonical path
    machinery:
    %{[tags][0]} indexes the array (event.sprintf supports indices);
    %{[a.b]} is ONE literal top-level field, not nesting; and
    %{[a][missing]} with column a present degrades to the literal
    (full-path existence check) instead of an AnalysisException."""
    from pyspark.sql import functions as F

    from logstash_filter_translate_spark.functions.templates import (
        compile_sprintf,
    )

    df = spark.createDataFrame(
        [(["x", "y"], "dotval", {"k": "v"})],
        "tags array<string>, `a.b` string, a struct<k string>",
    )
    out = df.select(
        compile_sprintf("first=%{[tags][0]}", "warc_ts", df.schema).alias("t0"),
        compile_sprintf("oob=%{[tags][9]}", "warc_ts", df.schema).alias("t9"),
        compile_sprintf("dot=%{[a.b]}", "warc_ts", df.schema).alias("d"),
        compile_sprintf("miss=%{[a][missing]}", "warc_ts", df.schema).alias("m"),
        compile_sprintf("ok=%{[a][k]}", "warc_ts", df.schema).alias("n"),
    ).collect()[0]
    assert out["t0"] == "first=x"
    assert out["t9"] == "oob=%{[tags][9]}"   # out-of-bounds -> literal
    assert out["d"] == "dot=dotval"
    assert out["m"] == "miss=%{[a][missing]}"
    assert out["n"] == "ok=v"
