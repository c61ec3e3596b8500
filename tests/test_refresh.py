"""SURVEY.md §5 case 12 + §2.3 R1-R7: dictionary refresh semantics
(translate_spec.rb:559-626, scheduling_spec.rb, dictionary/file.rb:81-125)."""

import os
import time

import pytest

from logstash_filter_translate_spark import (
    DictionaryFile,
    DictionaryLoadError,
    ROUTE_FALLBACK,
    Translate,
    TranslateConfig,
)


def _write(path, text):
    with open(path, "w") as fh:
        fh.write(text)
    # ensure mtime actually changes between writes
    st = os.stat(path)
    os.utime(path, (st.st_atime, st.st_mtime + 2))


@pytest.fixture
def dict_path(tmp_path):
    p = tmp_path / "refresh.csv"
    _write(str(p), "a,1\nb,2\nc,3\n")
    return str(p)


def test_merge_keeps_deleted_keys(dict_path):
    # v2 drops 'c'; merge retains it (translate_spec.rb:587-605)
    d = DictionaryFile(dict_path, refresh_behaviour="merge")
    assert d.as_dict() == {"a": "1", "b": "2", "c": "3"}
    _write(dict_path, "a,11\nb,12\n")
    assert d.reload() is True
    assert d.as_dict() == {"a": "11", "b": "12", "c": "3"}


def test_replace_drops_deleted_keys(dict_path):
    # replace drops 'c' → misses fall back (translate_spec.rb:607-625)
    d = DictionaryFile(dict_path, refresh_behaviour="replace")
    _write(dict_path, "a,11\nb,12\n")
    assert d.reload() is True
    assert d.as_dict() == {"a": "11", "b": "12"}


def test_mtime_short_circuit_skips_unchanged_file(dict_path):
    d = DictionaryFile(dict_path, refresh_interval=60)
    assert d.reload() is False  # mtime unchanged → no reload (file.rb:112-114)
    assert d.version == 1


def test_reload_error_keeps_previous_dictionary(tmp_path):
    p = tmp_path / "d.yml"
    _write(str(p), "a: 1\n")
    d = DictionaryFile(str(p))
    _write(str(p), "foo: bad: colon: here\n")
    assert d.reload() is False  # warn & keep (file.rb:116-125)
    assert d.as_dict() == {"a": 1}


def test_first_load_error_raises(tmp_path):
    p = tmp_path / "d.yml"
    _write(str(p), "foo: bad: colon: here\n")
    with pytest.raises(DictionaryLoadError):
        DictionaryFile(str(p))


def test_missing_file_raises_at_register(tmp_path):
    with pytest.raises(DictionaryLoadError, match="not found"):
        DictionaryFile(str(tmp_path / "nope.csv"))


def test_translate_refresh_swaps_strategy(spark, dict_path):
    """Full broadcast-swap protocol: reload between batches changes results
    (the Spark analogue of scheduling_spec.rb:45-105)."""
    df = spark.createDataFrame([("a",), ("c",)], "k string")
    op = Translate(
        TranslateConfig(
            source="k",
            dictionary_path=dict_path,
            fallback="fb",
            refresh_behaviour="replace",
        ),
        spark=spark,
    )
    first = {r["k"]: r["translation"] for r in op.apply(df).collect()}
    assert first == {"a": "1", "c": "3"}

    _write(dict_path, "a,111\n")
    assert op.refresh() is True
    second = {r["k"]: (r["translation"], r["route"]) for r in op.apply(df).collect()}
    assert second["a"] == ("111", "matched")
    assert second["c"] == ("fb", ROUTE_FALLBACK)  # dropped key falls back


def test_refresh_noop_without_change(spark, dict_path):
    op = Translate(
        TranslateConfig(source="k", dictionary_path=dict_path), spark=spark
    )
    assert op.refresh() is False


def test_regex_strategy_rebuilt_on_reload(spark, tmp_path):
    # R7: post-reload strategy rebuild recompiles the pattern table
    # (fetch_strategy/file.rb:34-40)
    import os

    p = tmp_path / "re.csv"
    p.write_text('"^a","first"\n')
    op = Translate(
        TranslateConfig(source="k", dictionary_path=str(p), exact=True,
                        regex=True, refresh_behaviour="replace"),
        spark=spark,
    )
    df = spark.createDataFrame([("abc",), ("zbc",)], "k string")
    first = {r["k"]: r["translation"] for r in op.apply(df).collect()}
    assert first == {"abc": "first", "zbc": None}

    p.write_text('"^z","second"\n')
    st = os.stat(p)
    os.utime(p, (st.st_atime, st.st_mtime + 2))
    assert op.refresh() is True
    second = {r["k"]: r["translation"] for r in op.apply(df).collect()}
    assert second == {"abc": None, "zbc": "second"}


def test_identical_content_rewrite_is_not_a_change(tmp_path):
    """The version is the CONTENT version — a rewrite of
    identical bytes (config-management touch, or every tick when the
    interval exceeds the mtime short-circuit) must not report a change,
    or Translate.refresh() rebuilds and re-broadcasts forever."""
    p = str(tmp_path / "d.csv")
    _write(p, "a,1\nb,2\n")
    df = DictionaryFile(p, refresh_behaviour="replace", refresh_interval=1)
    v0 = df.version
    _write(p, "a,1\nb,2\n")  # same content, new mtime
    assert df.reload() is False
    assert df.version == v0
    assert df.reload(force=True) is False  # even forced: content decides
    _write(p, "a,1\nb,3\n")
    assert df.reload() is True
    assert df.version == v0 + 1


def test_value_type_flip_is_a_change(tmp_path):
    """A reload that only flips a YAML value's TYPE is a change: Python
    == treats 1 == 1.0 == True, so an equality check would skip the
    version bump and serve the stale typed value forever."""
    p = str(tmp_path / "d.yml")
    _write(p, "a: 1\n")
    df = DictionaryFile(p, refresh_behaviour="replace", refresh_interval=1)
    assert df.pairs == [("a", 1)]
    v0 = df.version
    _write(p, "a: 1.0\n")
    st = os.stat(p)
    os.utime(p, (st.st_atime, st.st_mtime + 2))
    assert df.reload() is True
    assert df.version == v0 + 1
    (_, v), = df.pairs
    assert isinstance(v, float)
    # and the boolean flavor: true == 1 in Python, still a change
    _write(p, "a: true\n")
    os.utime(p, (st.st_atime, st.st_mtime + 4))
    assert df.reload() is True
    assert df.version == v0 + 2
    assert df.pairs == [("a", True)]
    # NESTED flips too: list/dict equality
    # uses the same 1 == 1.0 == True coercion one level down
    _write(p, "a: [true]\n")
    os.utime(p, (st.st_atime, st.st_mtime + 6))
    assert df.reload() is True
    v1 = df.version
    _write(p, "a: [1]\n")
    os.utime(p, (st.st_atime, st.st_mtime + 8))
    assert df.reload() is True
    assert df.version == v1 + 1
    (_, v), = df.pairs
    assert v == [1] and isinstance(v[0], int) and not isinstance(v[0], bool)
    _write(p, "a: {x: 1}\n")
    os.utime(p, (st.st_atime, st.st_mtime + 10))
    assert df.reload() is True
    v2 = df.version
    _write(p, "a: {x: 1.0}\n")
    os.utime(p, (st.st_atime, st.st_mtime + 12))
    assert df.reload() is True
    assert df.version == v2 + 1
    # nested mapping KEY flips too (1 -> true coerces equal, and only
    # top-level lookup keys are str()-normalized)
    _write(p, "a: {1: x}\n")
    os.utime(p, (st.st_atime, st.st_mtime + 14))
    assert df.reload() is True
    v3 = df.version
    _write(p, "a: {true: x}\n")
    os.utime(p, (st.st_atime, st.st_mtime + 16))
    assert df.reload() is True
    assert df.version == v3 + 1


def test_refresh_scheduler_restarts_after_stop(tmp_path):
    """start() after stop() refreshes again: a stop event left set would
    make the second start() spawn a thread that exits immediately, and
    the dictionary would silently never refresh again."""
    from logstash_filter_translate_spark.streaming.scheduler import (
        RefreshScheduler,
    )

    class _Op:
        def __init__(self):
            self.calls = 0

        def refresh(self):
            self.calls += 1
            return False

    op = _Op()
    sched = RefreshScheduler(op, interval=0.05)
    sched.start()
    time.sleep(0.2)
    sched.stop()
    after_stop = op.calls
    assert after_stop >= 1
    sched.start()
    time.sleep(0.3)
    sched.stop()
    assert op.calls > after_stop


def test_yaml_streaming_equals_one_shot_on_aliases_and_root_scalar(tmp_path):
    """The streaming event parser must not drop alias-valued pairs
    ('b: *x') or accept a root-scalar document as an empty dict. Both
    fall back to one_shot: aliases resolve, non-mapping documents raise
    — the two strategies stay contract-identical."""
    from logstash_filter_translate_spark.sources.dictionary import load_yaml

    p = str(tmp_path / "d.yml")
    with open(p, "w") as fh:
        fh.write("a: &x 1\nb: *x\n")
    assert (
        load_yaml(p, strategy="streaming")
        == load_yaml(p, strategy="one_shot")
        == [("a", 1), ("b", 1)]
    )

    scalar = str(tmp_path / "s.yml")
    with open(scalar, "w") as fh:
        fh.write("hello\n")
    with pytest.raises(DictionaryLoadError):
        load_yaml(scalar, strategy="one_shot")
    with pytest.raises(DictionaryLoadError):
        load_yaml(scalar, strategy="streaming")


@pytest.mark.parametrize(
    "iterate_on, schema, rows, target_type, value",
    [
        (None, "k string", [("a",)], "bigint", 1),
        ("k", "k array<string>", [(["a"],)], "array<bigint>", [1]),
        ("items", "items array<struct<k:string>>", [([("a",)],)],
         "array<struct<k:string,t:bigint>>", [("a", 1)]),
    ],
    ids=["single", "array_of_values", "array_of_maps"],
)
def test_apply_types_the_target_from_the_strategy_it_probed(
    spark, iterate_on, schema, rows, target_type, value
):
    """A refresh may swap ``op.strategy`` while ``apply`` builds a plan:
    the target type must come from the dictionary version the plan
    probes, not from one swapped in mid-build."""
    from logstash_filter_translate_spark.operators.lookup import ExactMapLiteral

    target = "items" if iterate_on == "items" else "t"
    op = Translate(
        TranslateConfig(source="k", target="t", dictionary={"a": 1},
                        iterate_on=iterate_on),
        spark=spark,
    )
    swapped_in = ExactMapLiteral([("a", "one")])  # string values

    class SwapOnProbe(ExactMapLiteral):
        def probe_frame(self, df, key):
            op.strategy = swapped_in
            return super().probe_frame(df, key)

        def probe_each(self, df, keys, row_key=None):
            op.strategy = swapped_in
            return super().probe_each(df, keys, row_key)

    op.strategy = SwapOnProbe([("a", 1)])
    out = op.apply(spark.createDataFrame(rows, schema))
    assert out.schema[target].dataType.simpleString() == target_type
    assert out.collect()[0][target] == value
