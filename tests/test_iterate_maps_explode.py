"""O6 at-scale explode plane equals the expression plane."""

from logstash_filter_translate_spark import translate
from tests.conftest import exact_plane


def test_array_of_maps_explode_plane_matches_expr_plane(spark):
    data = []
    for i in range(30):
        arr = [{"bar": str((i * 3 + j) % 12)} for j in range(i % 4)]
        if i % 7 == 0 and arr:
            arr[0] = {"bar": None}
        data.append((i, arr or None if i % 11 == 0 else arr))
    df = spark.createDataFrame(data, "id int, foo array<struct<bar:string>>")
    d = {str(k): f"v{k}" for k in range(8)}

    with exact_plane("literal"):
        a = translate(df, source="bar", iterate_on="foo", target="baz",
                      dictionary=d, fallback="fb")
    with exact_plane("join"):
        b = translate(df, source="bar", iterate_on="foo", target="baz",
                      dictionary=d, fallback="fb")
    ra = {r["id"]: (str(r["foo"]), r["route"]) for r in a.collect()}
    rb = {r["id"]: (str(r["foo"]), r["route"]) for r in b.collect()}
    assert ra == rb


def test_array_of_maps_explode_plane_no_fallback(spark):
    df = spark.createDataFrame(
        [(1, [{"bar": "1"}, {"bar": "zz"}]), (2, [])],
        "id int, foo array<struct<bar:string>>",
    )
    d = {"1": "one"}
    with exact_plane("literal"):
        a = translate(df, source="bar", iterate_on="foo", target="baz",
                      dictionary=d)
    with exact_plane("join"):
        b = translate(df, source="bar", iterate_on="foo", target="baz",
                      dictionary=d)
    ra = {r["id"]: (str(r["foo"]), r["route"]) for r in a.collect()}
    rb = {r["id"]: (str(r["foo"]), r["route"]) for r in b.collect()}
    assert ra == rb
    assert ra[2][0] == "[]"
