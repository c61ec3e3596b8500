"""Behavioral goldens ported from the reference's RSpec suite
(spec/filters/translate_spec.rb) — SURVEY.md §5 cases 1-7,
10, 13-15. Each test names its spec citation."""

import json

import pytest

from logstash_filter_translate_spark import (
    ROUTE_FALLBACK,
    ROUTE_MATCHED,
    ROUTE_SKIPPED,
    ROUTE_UNMATCHED,
    Translate,
    TranslateConfig,
    translate,
)
from tests.conftest import exact_plane


def one(df, col="translation"):
    rows = df.collect()
    assert len(rows) == 1
    return rows[0][col], rows[0]["route"]


# -- case 1: exact with int coercion (translate_spec.rb:25-47) --------------
def test_exact_int_source_matches_string_key(spark):
    df = spark.createDataFrame([(200,)], "status int")
    out = translate(
        df,
        source="status",
        target="translation",
        dictionary={"200": "OK", "300": "Redirect"},
        exact=True,
        regex=False,
    )
    val, route = one(out)
    assert val == "OK" and route == ROUTE_MATCHED


# -- case 2: regex keys without regex mode → no match (spec :49-71) ---------
def test_regex_keys_without_regex_mode_do_not_match(spark):
    df = spark.createDataFrame([("200",)], "status string")
    out = translate(
        df,
        source="status",
        target="translation",
        dictionary={"^2\\d\\d": "OK"},
        exact=True,
        regex=False,
    )
    val, route = one(out)
    assert val is None and route == ROUTE_UNMATCHED


# -- case 3: union substitution (spec :73-118) -------------------------------
def test_union_substitution_replaces_all_occurrences(spark):
    df = spark.createDataFrame([("200 & 500",)], "status string")
    out = translate(
        df,
        source="status",
        target="translation",
        dictionary=[("200", "OK"), ("500", "Server Error")],
        exact=False,
    )
    val, route = one(out)
    assert val == "OK & Server Error" and route == ROUTE_MATCHED


def test_union_substitution_miss_is_unchanged_output(spark):
    df = spark.createDataFrame([("nothing here",)], "status string")
    out = translate(
        df,
        source="status",
        target="translation",
        dictionary=[("200", "OK")],
        exact=False,
    )
    val, route = one(out)
    assert val is None and route == ROUTE_UNMATCHED


def test_union_keys_are_literal_escaped(spark):
    # Regexp.union escapes keys: "1.5" must not match "135"
    df = spark.createDataFrame([("135",), ("1.5",)], "s string")
    out = translate(
        df, source="s", target="t", dictionary={"1.5": "X"}, exact=False
    ).orderBy("s")
    rows = out.collect()
    assert rows[0]["t"] == "X" and rows[0]["s"] == "1.5"
    assert rows[1]["t"] is None


# -- case 4: regex first-match mode (spec :120-165) ---------------------------
def test_regex_mode_first_match_in_key_order(spark):
    df = spark.createDataFrame([("200",)], "status string")
    out = translate(
        df,
        source="status",
        target="translation",
        dictionary=[("^2[0-9][0-9]$", "OK"), ("^3[0-9][0-9]$", "Redirect")],
        exact=True,
        regex=True,
    )
    val, route = one(out)
    assert val == "OK" and route == ROUTE_MATCHED


def test_regex_mode_is_unanchored_search(spark):
    # Ruby source.match(re) searches anywhere (fetch_strategy/memory.rb:28)
    df = spark.createDataFrame([("abc500xyz",)], "s string")
    out = translate(
        df, source="s", target="t",
        dictionary=[("500", "Server Error")], exact=True, regex=True,
    )
    val, route = one(out, "t")
    assert val == "Server Error" and route == ROUTE_MATCHED


def test_regex_mode_insertion_order_wins_over_specificity(spark):
    df = spark.createDataFrame([("22",)], "s string")
    out = translate(
        df, source="s", target="t",
        dictionary=[("2", "first"), ("22", "second")], exact=True, regex=True,
    )
    assert one(out, "t") == ("first", ROUTE_MATCHED)


# -- case 5: fallback static + sprintf (spec :167-210) ------------------------
def test_fallback_static(spark):
    df = spark.createDataFrame([("200",)], "status string")
    out = translate(
        df, source="status", target="translation",
        dictionary={}, fallback="no match",
    )
    assert one(out) == ("no match", ROUTE_FALLBACK)


def test_fallback_sprintf_field_present(spark):
    df = spark.createDataFrame(
        [("200", "missing no match")], "status string, missing_translation string"
    )
    out = translate(
        df, source="status", target="translation",
        dictionary={}, fallback="%{missing_translation}",
    )
    assert one(out) == ("missing no match", ROUTE_FALLBACK)


def test_fallback_sprintf_field_absent_keeps_literal(spark):
    df = spark.createDataFrame([("200",)], "status string")
    out = translate(
        df, source="status", target="translation",
        dictionary={}, fallback="%{not_a_column}",
    )
    assert one(out) == ("%{not_a_column}", ROUTE_FALLBACK)


# -- sprintf %{+FORMAT} time references (Event#sprintf Joda grammar) ----------
def _ts_frame(spark, ts_name="warc_ts"):
    import datetime

    return spark.createDataFrame(
        [("200", datetime.datetime(2021, 3, 5, 12, 34, 56))],
        f"status string, {ts_name} timestamp",
    )


def test_fallback_sprintf_time_ref_formats_ts(spark):
    out = translate(
        _ts_frame(spark), source="status", target="translation",
        dictionary={}, fallback="logs-%{+YYYY.MM.dd}",
    )
    assert one(out) == ("logs-2021.03.05", ROUTE_FALLBACK)


def test_fallback_sprintf_time_ref_composes_with_field_ref(spark):
    out = translate(
        _ts_frame(spark), source="status", target="translation",
        dictionary={}, fallback="%{status}@%{+YYYY-MM-dd'T'HH:mm}",
    )
    assert one(out) == ("200@2021-03-05T12:34", ROUTE_FALLBACK)


def test_fallback_sprintf_epoch_seconds(spark):
    out = translate(
        _ts_frame(spark), source="status", target="translation",
        dictionary={}, fallback="%{+%s}",
    )
    # 2021-03-05T12:34:56Z (session timezone is UTC)
    assert one(out) == ("1614947696", ROUTE_FALLBACK)


def test_fallback_sprintf_time_ref_custom_ts_field(spark):
    out = translate(
        _ts_frame(spark, "ts"), source="status", target="translation",
        dictionary={}, fallback="d-%{+YYYY.MM.dd}", ts_field="ts",
    )
    assert one(out) == ("d-2021.03.05", ROUTE_FALLBACK)


def test_fallback_sprintf_time_ref_absent_ts_keeps_literal(spark):
    df = spark.createDataFrame([("200",)], "status string")
    out = translate(
        df, source="status", target="translation",
        dictionary={}, fallback="d-%{+YYYY.MM.dd}",
    )
    assert one(out) == ("d-%{+YYYY.MM.dd}", ROUTE_FALLBACK)


def _fmt(spark, pattern, dt):
    """Execute a %{+pattern} time ref against one timestamp and return the
    formatted string — every claimed token is covered at EXECUTION level
    (a rewrite-only test missed that Spark >= 3.0 bans week-based format
    letters: date_format with 'ww' throws SparkUpgradeException)."""
    from logstash_filter_translate_spark.functions.templates import (
        compile_sprintf,
    )

    df = spark.createDataFrame([(dt,)], "warc_ts timestamp")
    return df.select(
        compile_sprintf("%{+" + pattern + "}", "warc_ts", df.schema).alias("v")
    ).collect()[0]["v"]


def test_joda_year_of_era_not_week_based(spark):
    import datetime

    # Joda Y (year-of-era) must become Java y — Java's Y is week-based-year
    # (and banned by Spark); 2021-01-01 is ISO week 53 of weekyear 2020,
    # the exact date where the two diverge
    dt = datetime.datetime(2021, 1, 1, 12, 0, 0)
    assert _fmt(spark, "YYYY.MM.dd", dt) == "2021.01.01"


def test_joda_week_tokens_execute(spark):
    # the Logstash-common weekly rotation pattern %{+xxxx.ww}: Joda
    # x = weekyear, w = week-of-weekyear — Spark's formatter refuses both
    # letters, so they compile to extraction expressions; verify the
    # executed values against Python's isocalendar (same ISO definition)
    import datetime

    cases = [
        datetime.datetime(2021, 1, 1),    # Friday → week 53 of 2020
        datetime.datetime(2026, 12, 28),  # Monday → week 53 of 2026
        datetime.datetime(2021, 3, 5),    # mid-year, week == calendar year
        datetime.datetime(2024, 12, 30),  # Monday → week 1 of 2025
    ]
    for dt in cases:
        iso = dt.isocalendar()
        assert _fmt(spark, "xxxx.ww", dt) == f"{iso[0]:04d}.{iso[1]:02d}"
        assert _fmt(spark, "xxxx-'w'ww", dt) == f"{iso[0]:04d}-w{iso[1]:02d}"
        # e = ISO day-of-week number (Mon=1..Sun=7)
        assert _fmt(spark, "e", dt) == str(iso[2])
    # xx = two-digit weekyear (Joda short form)
    assert _fmt(spark, "xx.ww", datetime.datetime(2021, 1, 1)) == "20.53"


def test_joda_century_and_quoted_literals_execute(spark):
    import datetime

    dt = datetime.datetime(2021, 3, 5, 12, 34, 56)
    assert _fmt(spark, "CC", dt) == "20"
    # quoted literals pass through untouched, including letters inside
    assert _fmt(spark, "'Year 'YYYY''''", dt) == "Year 2021'"


def test_joda_unsupported_letter_raises_at_plan_time(spark):
    import pytest

    from logstash_filter_translate_spark.functions.templates import (
        compile_sprintf,
    )

    schema = spark.createDataFrame([], "warc_ts timestamp").schema
    # 'W' (week-of-month) is SimpleDateFormat grammar, not Joda, and not
    # expressible in Spark's formatter — fail loudly at plan time instead
    # of per-task at execution
    with pytest.raises(ValueError, match="unsupported Joda pattern"):
        compile_sprintf("%{+YYYY'W'W}", "warc_ts", schema)


# -- case 6: per-format value typing (spec :232-379) ---------------------------
def test_yaml_values_keep_types(spark, fixtures_dir):
    df = spark.createDataFrame([("a",), ("d",)], "k string")
    out = translate(
        df, source="k", dictionary_path=str(fixtures_dir / "dict.yml")
    ).orderBy("k")
    rows = out.collect()
    # heterogeneous dict → JSON-string values (documented; SURVEY.md §1.2)
    assert json.loads(rows[0]["translation"]) == 1
    assert json.loads(rows[1]["translation"]) == {
        "e": [1, "hello", True, "false", "1", "1.1"]
    }


def test_json_values_are_ints(spark, fixtures_dir):
    df = spark.createDataFrame([("b",)], "k string")
    out = translate(df, source="k", dictionary_path=str(fixtures_dir / "dict.json"))
    assert out.schema["translation"].dataType.simpleString() == "bigint"
    assert one(out) == (20, ROUTE_MATCHED)


def test_csv_values_stay_strings(spark, fixtures_dir):
    df = spark.createDataFrame([("c",)], "k string")
    out = translate(df, source="k", dictionary_path=str(fixtures_dir / "dict.csv"))
    assert out.schema["translation"].dataType.simpleString() == "string"
    assert one(out) == ("300", ROUTE_MATCHED)


def test_tagged_map_and_omap_yaml(spark, fixtures_dir):
    df = spark.createDataFrame([("nine",)], "k string")
    for fname in ("tag-map-dict.yml", "tag-omap-dict.yml"):
        out = translate(df, source="k", dictionary_path=str(fixtures_dir / fname))
        assert one(out) == ("val-9-1|val-9-2", ROUTE_MATCHED)


def test_yaml_streaming_equals_one_shot(spark, fixtures_dir):
    from logstash_filter_translate_spark.sources.dictionary import load_yaml

    path = str(fixtures_dir / "dict.yml")
    assert load_yaml(path, strategy="streaming") == load_yaml(
        path, strategy="one_shot"
    )


def test_yaml_code_point_limit_enforced(spark, fixtures_dir):
    from logstash_filter_translate_spark.sources.dictionary import (
        DictionaryLoadError,
        load_yaml,
    )

    with pytest.raises(DictionaryLoadError, match="code points"):
        load_yaml(str(fixtures_dir / "dict.yml"), code_point_limit=10)


# -- case 7: bad YAML / unknown extension raise at register (spec :212-230,
#    :381-387) ---------------------------------------------------------------
def test_bad_yaml_raises_at_register(spark, fixtures_dir):
    from logstash_filter_translate_spark import DictionaryLoadError

    df = spark.createDataFrame([("foo",)], "k string")
    with pytest.raises(DictionaryLoadError, match="invalid YAML"):
        translate(
            df, source="k", dictionary_path=str(fixtures_dir / "dict-wrong.yml")
        )


def test_unknown_extension_raises(spark, fixtures_dir):
    from logstash_filter_translate_spark import DictionaryLoadError

    df = spark.createDataFrame([("a",)], "k string")
    with pytest.raises(DictionaryLoadError, match="non valid format"):
        translate(df, source="k", dictionary_path=str(fixtures_dir / "dict.other"))


# -- case 10: in-place override (spec :451-471) --------------------------------
def test_in_place_translation_forces_override(spark):
    df = spark.createDataFrame([("bar",)], "foo string")
    out = translate(df, source="foo", target="foo", dictionary={"bar": "new_value"})
    rows = out.collect()
    assert rows[0]["foo"] == "new_value" and rows[0]["route"] == ROUTE_MATCHED


def test_override_gate_skips_existing_target(spark):
    df = spark.createDataFrame([("a", "old")], "k string, translation string")
    out = translate(df, source="k", dictionary={"a": "new"})
    assert one(out) == ("old", ROUTE_SKIPPED)


def test_override_true_overwrites(spark):
    df = spark.createDataFrame([("a", "old")], "k string, translation string")
    out = translate(df, source="k", dictionary={"a": "new"}, override=True)
    assert one(out) == ("new", ROUTE_MATCHED)


# -- case 13: empty dictionary + fallback, all formats (spec :628-682) ---------
@pytest.mark.parametrize("fname", ["dict_empty.csv", "dict_empty.json", "dict_empty.yml"])
def test_empty_dictionary_falls_back(spark, fixtures_dir, fname):
    df = spark.createDataFrame([("200",)], "status string")
    out = translate(
        df, source="status", target="translation",
        dictionary_path=str(fixtures_dir / fname), fallback="no match",
    )
    assert one(out) == ("no match", ROUTE_FALLBACK)


# -- case 14: target defaulting, legacy vs ECS (spec :684-721) -----------------
def test_default_target_is_translation_legacy(spark):
    cfg = TranslateConfig(source="s", dictionary={"a": "b"}).validate()
    assert cfg.resolved_target == "translation" and not cfg.in_place


def test_default_target_ecs_in_place(spark):
    cfg = TranslateConfig(
        source="s", dictionary={"a": "b"}, ecs_compatibility=True
    ).validate()
    assert cfg.resolved_target == "s" and cfg.in_place and cfg.resolved_override


# -- NULL-source rule (SURVEY.md §7): NULL → miss → fallback path --------------
def test_null_source_takes_fallback(spark):
    df = spark.createDataFrame([(None,)], "status string")
    out = translate(
        df, source="status", target="translation",
        dictionary={"200": "OK"}, fallback="no match",
    )
    assert one(out) == ("no match", ROUTE_FALLBACK)


# -- array source coerces to first element (single_value_update.rb:5-13) -------
def test_array_source_uses_first_element(spark):
    df = spark.createDataFrame([(["200", "300"],)], "status array<string>")
    out = translate(df, source="status", target="translation",
                    dictionary={"200": "OK"})
    assert one(out) == ("OK", ROUTE_MATCHED)


# -- physical planes agree (expr map-literal vs broadcast join) ----------------
def test_exact_physical_planes_agree(spark):
    data = [(str(i),) for i in range(50)] + [("miss-me",)]
    df = spark.createDataFrame(data, "k string")
    d = {str(i): f"v{i}" for i in range(40)}
    with exact_plane("literal"):
        a = translate(df, source="k", dictionary=d, fallback="fb")
    with exact_plane("join"):
        b = translate(df, source="k", dictionary=d, fallback="fb")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_matched_key_is_null_on_skipped_rows(spark):
    """O7 parity: the reference short-circuits before
    any lookup on the override gate (single_value_update.rb:27-31), so a
    skipped row must not report a matched key even when its source value
    IS in the dictionary."""
    from pyspark.sql import functions as F

    from logstash_filter_translate_spark import translate

    df = spark.createDataFrame(
        [("200", "already-set"), ("200", None), ("999", None)],
        "status string, translation string",
    )
    out = translate(
        df, source="status", target="translation",
        dictionary={"200": "OK"}, override=False, fallback="fb",
        matched_key_col="mk",
    ).collect()
    rows = {(r["status"], r["route"]): r["mk"] for r in out}
    assert rows[("200", "skipped")] is None      # gate fired: no lookup ran
    assert rows[("200", "matched")] == "200"
    assert rows[("999", "fallback")] is None


def test_key_tracking_does_not_degrade_later_applies(spark):
    """apply(matched_key_col=...) on a native union strategy must not
    mutate self.strategy - a later plain apply() on the same instance
    keeps the codegen-native plane (and both calls return
    reference-correct values)."""
    from logstash_filter_translate_spark.config import TranslateConfig
    from logstash_filter_translate_spark.operators.lookup import (
        UnionReplaceChain,
    )
    from logstash_filter_translate_spark.operators.translate import Translate

    cfg = TranslateConfig(
        source="msg", target="msg", exact=False,
        dictionary={"foo": "X", "bar": "Y"},
    )
    op = Translate(cfg)
    assert isinstance(op.strategy, UnionReplaceChain)
    df = spark.createDataFrame([("a foo b",), ("none here",)], "msg string")

    tracked = op.apply(df, matched_key_col="mk").collect()
    assert isinstance(op.strategy, UnionReplaceChain)
    plain = op.apply(df).collect()
    assert {r["msg"] for r in plain} == {"a X b", "none here"}
    assert {(r["msg"], r["mk"]) for r in tracked} == {
        ("a X b", "foo"), ("none here", None),
    }
