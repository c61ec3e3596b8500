"""SURVEY.md §5 cases 8-9: iterate_on array-of-values and array-of-maps
(translate_spec.rb:389-448; array_of_values_update.rb;
array_of_maps_value_update.rb)."""

from logstash_filter_translate_spark import ROUTE_MATCHED, ROUTE_UNMATCHED, translate
from tests.conftest import exact_plane

TAG_MAP = [
    ("eight", "val-8-1|val-8-2"),
    ("five", "val-5-1|val-5-2"),
    ("four", "val-4-1|val-4-2"),
    ("nine", "val-9-1|val-9-2"),
    ("one", "val-1-1|val-1-2"),
    ("seven", "val-7-1|val-7-2"),
    ("six", "val-6-1|val-6-2"),
    ("three", "val-3-1|val-3-2"),
    ("two", "val-2-1|val-2-2"),
]
UNION = [("200", "OK"), ("300", "Redirect"), ("400", "Client Error"),
         ("500", "Server Error")]


# -- case 8: array of values (spec :404-412) ---------------------------------
def test_array_of_values_translates_each_element(spark):
    df = spark.createDataFrame([(["nine", "eight", "seven"],)], "foo array<string>")
    out = translate(
        df, source="foo", iterate_on="foo", target="baz",
        dictionary=TAG_MAP, fallback="nooo",
    )
    row = out.collect()[0]
    assert row["baz"] == ["val-9-1|val-9-2", "val-8-1|val-8-2", "val-7-1|val-7-2"]
    assert row["route"] == ROUTE_MATCHED


def test_array_of_values_fallback_at_miss_ordinals(spark):
    df = spark.createDataFrame([(["nine", "nope", "seven"],)], "foo array<string>")
    out = translate(
        df, source="foo", iterate_on="foo", target="baz",
        dictionary=TAG_MAP, fallback="nooo",
    )
    assert out.collect()[0]["baz"] == ["val-9-1|val-9-2", "nooo", "val-7-1|val-7-2"]


# -- case 8b: integer elements coerced (spec :414-423) -------------------------
def test_array_of_values_coerces_int_elements(spark):
    df = spark.createDataFrame([([200, 300, 400],)], "foo array<int>")
    out = translate(
        df, source="foo", iterate_on="foo", target="baz", dictionary=UNION
    )
    assert out.collect()[0]["baz"] == ["OK", "Redirect", "Client Error"]


def test_array_of_values_no_match_no_fallback_gives_nulls(spark):
    df = spark.createDataFrame([(["x", "y"],)], "foo array<string>")
    out = translate(df, source="foo", iterate_on="foo", target="baz",
                    dictionary=UNION)
    row = out.collect()[0]
    assert row["baz"] == [None, None] and row["route"] == ROUTE_UNMATCHED


# -- case 9: array of maps (spec :425-448) -------------------------------------
def test_array_of_maps_writes_target_field(spark):
    df = spark.createDataFrame(
        [([{"bar": "two"}, {"bar": "one"}, {"bar": "six"}],)],
        "foo array<struct<bar:string>>",
    )
    out = translate(
        df, source="bar", iterate_on="foo", target="baz", dictionary=TAG_MAP
    )
    row = out.collect()[0]
    assert [m["baz"] for m in row["foo"]] == [
        "val-2-1|val-2-2", "val-1-1|val-1-2", "val-6-1|val-6-2",
    ]
    assert row["route"] == ROUTE_MATCHED


def test_array_of_maps_coerces_int_values(spark):
    df = spark.createDataFrame(
        [([{"bar": 200}, {"bar": 300}, {"bar": 400}],)],
        "foo array<struct<bar:int>>",
    )
    out = translate(
        df, source="bar", iterate_on="foo", target="baz", dictionary=UNION
    )
    assert [m["baz"] for m in out.collect()[0]["foo"]] == [
        "OK", "Redirect", "Client Error",
    ]


def test_array_of_maps_skips_null_inner_values(spark):
    # `next if inner.nil?` — array_of_maps_value_update.rb:26: no fallback
    df = spark.createDataFrame(
        [([{"bar": "two"}, {"bar": None}],)], "foo array<struct<bar:string>>"
    )
    out = translate(
        df, source="bar", iterate_on="foo", target="baz",
        dictionary=TAG_MAP, fallback="fb",
    )
    row = out.collect()[0]
    assert [m["baz"] for m in row["foo"]] == ["val-2-1|val-2-2", None]


def test_array_of_maps_fallback_counts_as_match(spark):
    # miss + fallback → written and matched (array_of_maps_value_update.rb:31-34)
    df = spark.createDataFrame(
        [([{"bar": "zzz"}],)], "foo array<struct<bar:string>>"
    )
    out = translate(
        df, source="bar", iterate_on="foo", target="baz",
        dictionary=TAG_MAP, fallback="fb",
    )
    row = out.collect()[0]
    assert [m["baz"] for m in row["foo"]] == ["fb"]
    assert row["route"] == ROUTE_MATCHED


# -- at-scale explode plane equals the transform plane --------------------------
def test_array_of_values_explode_plane_matches_transform_plane(spark):
    data = [
        (i, [str((i * 7 + j) % 30) for j in range(i % 5)]) for i in range(40)
    ] + [(100, None), (101, [])]
    df = spark.createDataFrame(data, "id int, foo array<string>")
    d = {str(i): f"v{i}" for i in range(20)}
    with exact_plane("literal"):
        a = translate(df, source="foo", iterate_on="foo", target="baz",
                      dictionary=d, fallback="fb")
    with exact_plane("join"):
        b = translate(df, source="foo", iterate_on="foo", target="baz",
                      dictionary=d, fallback="fb")
    ra = {r["id"]: (r["baz"], r["route"]) for r in a.collect()}
    rb = {r["id"]: (r["baz"], r["route"]) for r in b.collect()}
    assert ra == rb


def test_array_of_values_scalar_source_wrapped(spark):
    # CoerceOther: Array(x) — scalar source becomes 1-element array
    df = spark.createDataFrame([("nine",)], "foo string")
    out = translate(df, source="foo", iterate_on="foo", target="baz",
                    dictionary=TAG_MAP)
    assert out.collect()[0]["baz"] == ["val-9-1|val-9-2"]


def test_iterate_values_with_regex_mode(spark):
    # iterate_on composes with the regex fetch strategy (updater and
    # strategy are orthogonal, translate.rb:244-250)
    df = spark.createDataFrame([(["200", "x404y", "zzz"],)], "foo array<string>")
    out = translate(
        df, source="foo", iterate_on="foo", target="baz",
        dictionary=[("^2[0-9][0-9]$", "OK"), ("404", "Not Found")],
        exact=True, regex=True, fallback="fb",
    )
    row = out.collect()[0]
    assert row["baz"] == ["OK", "Not Found", "fb"]
    assert row["route"] == ROUTE_MATCHED


def test_iterate_maps_with_union_mode(spark):
    df = spark.createDataFrame(
        [([{"bar": "a 200 b"}, {"bar": "none"}],)],
        "foo array<struct<bar:string>>",
    )
    out = translate(
        df, source="bar", iterate_on="foo", target="baz",
        dictionary=[("200", "OK")], exact=False,
    )
    row = out.collect()[0]
    assert [m["baz"] for m in row["foo"]] == ["a OK b", None]
