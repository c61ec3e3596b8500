"""O10 error containment (translate.rb:266-270, translate_spec.rb:724-749):
a failing lookup must not kill the job — the row routes to 'failed' and
passes through unenriched."""

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from logstash_filter_translate_spark.config import TranslateConfig
from logstash_filter_translate_spark.operators.lookup import (
    RegexFirstMatch,
    lookup_result_type,
)
from logstash_filter_translate_spark.operators.translate import Translate


class ExplodingStrategy(RegexFirstMatch):
    """Test double: raises per-row for a sentinel key — exercises the same
    per-row try/except path the real UDFs use."""

    def __init__(self):
        super().__init__([("ok", "fine")])
        ret = lookup_result_type(self.value_type)

        @pandas_udf(ret)
        def udf(col: pd.Series) -> pd.DataFrame:
            rows = []
            for s in col:
                try:
                    if s == "boom":
                        raise RuntimeError("lookup exploded")
                    rows.append(
                        {"matched": s == "ok", "value": "fine" if s == "ok" else None,
                         "key": s if s == "ok" else None, "error": None}
                    )
                except Exception as exc:  # containment, never re-raise
                    rows.append(
                        {"matched": False, "value": None, "key": None,
                         "error": f"{type(exc).__name__}: {exc}"}
                    )
            return pd.DataFrame(rows)

        self._scalar_udf = udf


def test_failed_rows_route_to_failed_and_pass_through(spark):
    df = spark.createDataFrame([("ok",), ("boom",), ("meh",)], "k string")
    op = Translate(
        TranslateConfig(source="k", target="t", dictionary={"ok": "fine"},
                        fallback="fb"),
        spark=spark,
    )
    op.strategy = ExplodingStrategy()
    out = {r["k"]: (r["t"], r["route"]) for r in op.apply(df).collect()}
    assert out["ok"] == ("fine", "matched")
    assert out["boom"] == (None, "failed")  # unenriched, contained
    assert out["meh"] == ("fb", "fallback")


def test_real_regex_udf_error_column_is_null_on_success(spark):
    strat = RegexFirstMatch([("a+", "A")])
    df = spark.createDataFrame([("aaa",), ("zzz",)], "s string")
    df, probe = strat.probe_frame(df, F.col("s"))
    rows = df.select(probe.error.alias("error")).collect()
    assert all(r["error"] is None for r in rows)


def test_fault_injector_routes_failed_through_real_operator(spark):
    """The documented deterministic fault injector (RegexFirstMatch
    fault_pattern — the engine analogue of translate_spec.rb:738-742's
    raising updater) must produce contained errors through the REAL
    per-row guarded path: fault rows → route='failed', unenriched."""
    df = spark.createDataFrame(
        [("click",), ("boomer",), ("zzz",)], "k string"
    )
    op = Translate(
        TranslateConfig(
            source="k", target="t", dictionary=[("^c", "C")],
            exact=True, regex=True, fallback="fb",
        ),
        spark=spark,
    )
    op.strategy = RegexFirstMatch([("^c", "C")], fault_pattern="^boom")
    out = {r["k"]: (r["t"], r["route"]) for r in op.apply(df).collect()}
    assert out["click"] == ("C", "matched")
    assert out["boomer"] == (None, "failed")
    assert out["zzz"] == ("fb", "fallback")


def test_fault_injector_array_plane_routes_failed(spark):
    """O10 through the iterate_on (array) UDF plane: an element raising
    inside the guarded path marks the ROW failed (any_error semantics);
    clean rows translate/fallback normally."""
    df = spark.createDataFrame(
        [(1, ["click", "zzz"]), (2, ["boomer"]), (3, ["zzz"])],
        "id int, ks array<string>",
    )
    op = Translate(
        TranslateConfig(
            source="ks", iterate_on="ks", target="t",
            dictionary=[("^c", "C")], exact=True, regex=True, fallback="fb",
        ),
        spark=spark,
    )
    op.strategy = RegexFirstMatch([("^c", "C")], fault_pattern="^boom")
    out = {r["id"]: (r["t"], r["route"]) for r in op.apply(df).collect()}
    assert out[1] == (["C", "fb"], "matched")
    assert out[2][1] == "failed"
    assert out[3] == (["fb"], "fallback")


def test_fault_injector_array_of_maps_routes_failed(spark):
    """O10 through the array-of-maps (O6) UDF plane: a faulting element
    fails its row, and its target stays NULL even with a fallback; the
    row's other elements and clean rows translate or fall back."""
    df = spark.createDataFrame(
        [
            (1, [{"k": "click"}, {"k": "boomer"}, {"k": "zzz"}]),
            (2, [{"k": "click"}, {"k": "zzz"}]),
            (3, [{"k": "zzz"}, {"k": None}]),
        ],
        "id int, items array<struct<k:string>>",
    )
    op = Translate(
        TranslateConfig(
            source="k", iterate_on="items", target="t",
            dictionary=[("^c", "C")], exact=True, regex=True, fallback="fb",
        ),
        spark=spark,
    )
    op.strategy = RegexFirstMatch([("^c", "C")], fault_pattern="^boom")
    out = {
        r["id"]: ([m["t"] for m in r["items"]], r["route"])
        for r in op.apply(df).collect()
    }
    assert out[1] == (["C", None, "fb"], "failed")
    assert out[2] == (["C", "fb"], "matched")
    assert out[3] == (["fb", None], "matched")
