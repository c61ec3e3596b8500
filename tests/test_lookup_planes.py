"""Physical-plane equivalence: every lookup mode has ≥2 physical
implementations that must agree row-for-row (surviving a 100× scale-up
depends on swapping planes freely)."""

from logstash_filter_translate_spark.config import TranslateConfig
from logstash_filter_translate_spark.operators import lookup
from logstash_filter_translate_spark.operators.lookup import (
    ExactJoin,
    ExactMapLiteral,
    UnionReplaceChain,
    UnionSubstitution,
    build_strategy,
    union_chain_safe,
)
from logstash_filter_translate_spark.operators.translate import Translate
from tests.conftest import exact_plane


# -- auto-selectors, one case on each side of the threshold --------------------

def test_exact_selector_threshold(spark):
    n = lookup.MAP_LITERAL_MAX_ENTRIES
    pairs = [(f"k{i}", f"v{i}") for i in range(n + 1)]
    assert isinstance(build_strategy("exact", pairs[:n], spark=spark), ExactMapLiteral)
    assert isinstance(build_strategy("exact", pairs, spark=spark), ExactJoin)
    # no session given: the dictionary frame is built on the active one
    assert isinstance(build_strategy("exact", pairs), ExactJoin)


def test_union_native_selector_threshold():
    n = lookup.NATIVE_MAX_KEYS
    # fixed-width keys from a digit alphabet, values from a letter one: no
    # key overlaps another, no value touches a key
    pairs = [(f"<{i:03d}>", f"V{chr(65 + i % 26)}") for i in range(n + 1)]
    assert isinstance(build_strategy("union", pairs[:n]), UnionReplaceChain)
    assert isinstance(build_strategy("union", pairs), UnionSubstitution)


def test_union_native_detector():
    assert union_chain_safe([("200", "OK"), ("500", "SE")])
    assert not union_chain_safe([("ab", "X"), ("bc", "Y")])  # overlap
    assert not union_chain_safe([("a", "X"), ("ab", "Y")])  # substring
    assert not union_chain_safe([("200", "x500y"), ("500", "z")])


def test_union_native_equals_udf_plane(spark):
    pairs = [("200", "OK"), ("500", "Server Error")]
    df = spark.createDataFrame(
        [("200 & 500",), ("200200",), ("  500",), ("noop",), (None,)],
        "s string",
    )
    nat = Translate(
        TranslateConfig(source="s", target="t", dictionary=pairs, exact=False),
        spark=spark,
    )
    assert isinstance(nat.strategy, UnionReplaceChain)
    udf = Translate(
        TranslateConfig(source="s", target="t", dictionary=pairs, exact=False),
        spark=spark,
    )
    udf.strategy = UnionSubstitution(pairs)
    key = lambda r: str(r)
    assert sorted(map(tuple, nat.apply(df).collect()), key=key) == sorted(
        map(tuple, udf.apply(df).collect()), key=key
    )


def test_union_interacting_dict_uses_udf_single_pass(spark):
    # overlapping keys: single-pass semantics must hold (sequential replace
    # would differ) — "abc" with keys [bc, ab] must become "aY" NOT "Xc"?
    # Ruby gsub(union) scans left-to-right: at pos 0 tries 'bc' (no... 'ab'
    # matches at 0 since alternation order bc|ab: at pos0 'bc' doesn't match,
    # 'ab' does) → "Xc". Sequential replace('bc') first gives "aY".
    df = spark.createDataFrame([("abc",)], "s string")
    op = Translate(
        TranslateConfig(
            source="s", target="t",
            dictionary=[("bc", "Y"), ("ab", "X")], exact=False,
        ),
        spark=spark,
    )
    # detector must refuse the native plane
    assert isinstance(op.strategy, UnionSubstitution)
    assert op.apply(df).collect()[0]["t"] == "Xc"


def test_union_matched_key_tracking_forces_udf_plane(spark):
    df = spark.createDataFrame([("see 500 here",)], "s string")
    op = Translate(
        TranslateConfig(
            source="s", target="t",
            dictionary=[("200", "OK"), ("500", "SE")], exact=False,
        ),
        spark=spark,
    )
    out = op.apply(df, matched_key_col="mk").collect()[0]
    assert out["mk"] == "500" and out["t"] == "see SE here"


# -- table-backed dictionary plane: same answers as the pairs dictionary ---------

def test_table_dictionary_matches_pairs_dictionary(spark):
    """translate_with_table must equal translate() with the same mapping
    materialized as pairs — same routes, values, fallback behavior."""
    from logstash_filter_translate_spark import translate, translate_with_table

    df = spark.createDataFrame([("a",), ("b",), ("z",)], "k string")
    dict_df = spark.createDataFrame(
        [("a", "A"), ("b", "B")], "key string, val string"
    )
    via_table = translate_with_table(
        df, "k", dict_df, "key", "val", target="t", fallback="fb"
    )
    with exact_plane("join"):
        via_pairs = translate(
            df, source="k", target="t", dictionary={"a": "A", "b": "B"},
            fallback="fb",
        )
    assert sorted(map(tuple, via_table.collect())) == sorted(
        map(tuple, via_pairs.collect())
    )


def test_table_dictionary_duplicate_keys_resolve_deterministically(spark):
    from logstash_filter_translate_spark import translate_with_table

    df = spark.createDataFrame([("a",)], "k string")
    dict_df = spark.createDataFrame(
        [("a", "z-last"), ("a", "a-first")], "key string, val string"
    )
    out = translate_with_table(df, "k", dict_df, "key", "val", target="t")
    assert out.collect()[0]["t"] == "a-first"  # lowest value wins


def test_table_dictionary_override_gate(spark):
    from logstash_filter_translate_spark import translate_with_table

    df = spark.createDataFrame(
        [("a", "preset"), ("b", None)], "k string, t string"
    )
    dict_df = spark.createDataFrame(
        [("a", "A"), ("b", "B")], "key string, val string"
    )
    out = translate_with_table(
        df, "k", dict_df, "key", "val", target="t", override=False
    )
    got = {r["k"]: (r["t"], r["route"]) for r in out.collect()}
    assert got["a"] == ("preset", "skipped")
    assert got["b"] == ("B", "matched")


def test_table_dictionary_shuffle_plane_matches_broadcast_plane(spark):
    """broadcast=False: the dictionary is declared beyond broadcast — the plan must be a genuine shuffle join with NO
    BroadcastExchange anywhere (surviving AQE re-planning), and the
    results must equal the broadcast plane's exactly."""
    from logstash_filter_translate_spark import translate_with_table

    df = spark.range(2000).selectExpr("CAST(id AS STRING) AS k")
    dict_df = spark.createDataFrame(
        [(str(i), f"v{i}") for i in range(0, 2000, 3)], "key string, val string"
    )
    shuffled = translate_with_table(
        df, "k", dict_df, "key", "val", target="t", fallback="fb",
        broadcast=False,
    )
    rows = sorted(map(tuple, shuffled.collect()))  # AQE-final plan below
    plan = shuffled._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "BroadcastExchange" not in plan
    broadcasted = translate_with_table(
        df, "k", dict_df, "key", "val", target="t", fallback="fb",
        broadcast=True,
    )
    assert rows == sorted(map(tuple, broadcasted.collect()))


def test_table_dictionary_probe_side_not_shuffled(spark):
    from logstash_filter_translate_spark import translate_with_table

    df = spark.range(1000).selectExpr("CAST(id AS STRING) AS k")
    dict_df = spark.createDataFrame(
        [(str(i), f"v{i}") for i in range(100)], "key string, val string"
    )
    out = translate_with_table(df, "k", dict_df, "key", "val", target="t")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the only hash Exchange allowed is INSIDE the broadcast build side
    # (the dictionary's duplicate-key dedup aggregate — proportional to
    # dictionary size); the probe (100 TB) side must not shuffle
    probe_side = plan.split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in probe_side
