"""Regressions for the round-1 advisor findings (ADVICE.md r1):

1. single-value mode on an EMPTY array source must not throw under Spark
   4.1 ANSI mode (element_at → try_element_at) and must coerce like the
   reference's ``[].first.to_s`` == "" (single_value_update.rb:5-13);
2. the union replace-chain proof (``union_chain_safe``) must reject dictionaries where
   a replacement value can combine with adjacent original text to form a
   later key (boundary re-triggering) — and the UDF plane must then produce
   the reference's single-pass gsub answer;
3. RegexFirstMatch runs its union-regex miss prefilter only when some
   pattern has no required literal, and never when any pattern has
   capturing groups / backreferences (concatenation renumbers groups →
   false miss);
4. the native-safety proof must be capped so 100k-key union dictionaries
   don't hang plan time;
5. the explode planes accept a natural row key (iterate_key) and agree
   with the synthetic-id plane.
"""

import time

from pyspark.sql import functions as F

from logstash_filter_translate_spark.config import TranslateConfig
from logstash_filter_translate_spark.operators.lookup import (
    RegexFirstMatch,
    UnionSubstitution,
    build_strategy,
    union_chain_safe,
)
from logstash_filter_translate_spark.operators.translate import Translate
from tests.conftest import exact_plane


# -- 1. ANSI empty-array source ----------------------------------------------

def test_single_value_empty_array_source_no_ansi_throw(spark):
    df = spark.createDataFrame(
        [(1, ["b"]), (2, []), (3, [None, "x"]), (4, None)],
        "id int, src array<string>",
    )
    out = Translate(
        TranslateConfig(
            source="src", target="t", dictionary={"b": "B", "": "EMPTY"},
            fallback="fb",
        ),
        spark=spark,
    ).apply(df)
    rows = {r["id"]: (r["t"], r["route"]) for r in out.collect()}
    assert rows[1] == ("B", "matched")
    # [].first.to_s == "" → matches the "" key, like the reference
    assert rows[2] == ("EMPTY", "matched")
    # [nil, ...].first.to_s == "" as well
    assert rows[3] == ("EMPTY", "matched")
    # missing field (NULL array) → no key → fallback
    assert rows[4] == ("fb", "fallback")


# -- 2. union native boundary re-triggering ------------------------------------

def test_union_native_rejects_value_key_boundary_retrigger():
    # value "c" + adjacent original "d" forms key "cd": chain gives "z",
    # reference single-pass gsub gives "cd" — must NOT take the native plane
    assert not union_chain_safe([("ab", "c"), ("cd", "z")])


def test_union_boundary_retrigger_matches_reference_semantics(spark):
    df = spark.createDataFrame([("abd",)], "s string")
    op = Translate(
        TranslateConfig(
            source="s", target="t",
            dictionary=[("ab", "c"), ("cd", "z")], exact=False,
        ),
        spark=spark,
    )
    row = op.apply(df).collect()[0]
    assert row["t"] == "cd"  # single-pass: ab→c, never rescans "cd"
    assert row["route"] == "matched"


def test_union_native_rejects_empty_value_deletion_merge(spark):
    # deleting "b" merges "a"+"c" into later key "ac" — chain-only artifact
    assert not union_chain_safe([("b", ""), ("ac", "z")])
    df = spark.createDataFrame([("abc",)], "s string")
    op = Translate(
        TranslateConfig(
            source="s", target="t",
            dictionary=[("b", ""), ("ac", "z")], exact=False,
        ),
        spark=spark,
    )
    assert op.apply(df).collect()[0]["t"] == "ac"


def test_union_native_single_key_empty_value_still_native():
    assert union_chain_safe([("b", "")])


# -- 3. regex prefilter with groups/backreferences ------------------------------

def test_regex_backreference_pattern_not_false_missed(spark):
    # >4 patterns so the union prefilter WOULD engage; the last uses a
    # backreference that the renumbered union regex could never match
    pairs = [
        ("zzz1", "v1"), ("zzz2", "v2"), ("zzz3", "v3"), ("zzz4", "v4"),
        (r"(a)\1", "double-a"),
    ]
    df = spark.createDataFrame([("xaax",), ("nope",)], "s string")
    out = Translate(
        TranslateConfig(
            source="s", target="t", dictionary=pairs,
            exact=True, regex=True, fallback="none",
        ),
        spark=spark,
    ).apply(df)
    rows = {r["s"]: r["t"] for r in out.collect()}
    assert rows["xaax"] == "double-a"
    assert rows["nope"] == "none"


# -- 4. plan-time cap on the native-safety proof --------------------------------

def test_union_native_proof_capped_for_big_dictionaries():
    pairs = [(f"key{i:06d}", f"val{i}") for i in range(100_000)]
    t0 = time.time()
    strat = build_strategy("union", pairs)
    assert time.time() - t0 < 5.0  # was O(n²·keylen) — effectively a hang
    # big dicts take the vectorized UDF plane
    assert isinstance(strat, UnionSubstitution)


# -- 5. iterate_key natural-key explode plane ------------------------------------

def _big_dict(n=600):
    return [(f"w{i}", f"W{i}") for i in range(n)]


def test_iterate_values_explode_plane_with_natural_key(spark):
    df = spark.createDataFrame(
        [(1, ["w1", "nope", "w2"]), (2, []), (3, None), (4, ["x"])],
        "id int, words array<string>",
    )
    cfg = dict(
        source="words", iterate_on="words", target="t",
        dictionary=_big_dict(), fallback="?",
    )
    with exact_plane("join"):
        op = Translate(TranslateConfig(**cfg), spark=spark)
    from logstash_filter_translate_spark.operators.lookup import (
        ExactBroadcastJoin,
    )

    assert isinstance(op.strategy, ExactBroadcastJoin)
    keyed = {
        r["id"]: (r["t"], r["route"])
        for r in op.apply(df, iterate_key="id").collect()
    }
    synth = {
        r["id"]: (r["t"], r["route"]) for r in op.apply(df).collect()
    }
    assert keyed == synth
    assert keyed[1] == (["W1", "?", "W2"], "matched")
    assert keyed[4] == (["?"], "fallback")


def test_iterate_maps_explode_plane_fallback_field_reference(spark):
    # big dict → explode plane; fallback references a row column (%{tag}) —
    # the reference sprintf's against the full event
    # (array_of_maps_value_update.rb:32-35)
    df = spark.createDataFrame(
        [
            (1, "alpha", [{"kind": "w1"}, {"kind": "zzz"}]),
            (2, "beta", [{"kind": "zzz"}]),
        ],
        "id int, tag string, items array<struct<kind:string>>",
    )
    with exact_plane("join"):
        op = Translate(
            TranslateConfig(
                source="kind", iterate_on="items", target="label",
                dictionary=_big_dict(), fallback="fb-%{tag}",
            ),
            spark=spark,
        )
    out = op.apply(df, iterate_key="id")
    rows = {r["id"]: [m["label"] for m in r["items"]] for r in out.collect()}
    assert rows[1] == ["W1", "fb-alpha"]
    assert rows[2] == ["fb-beta"]


def test_scratch_dir_reclaims_recycled_pid_dirs_and_dedups_atexit(tmp_path, monkeypatch):
    """r5 advice: (a) a live pid that STARTED AFTER a stale sibling dir's
    mtime is a recycled pid, not the creator — the dir must be reclaimed;
    (b) re-entering the same (tag, sf_dir) must not stack duplicate
    atexit handlers."""
    import os
    import time as _time

    from logstash_filter_translate_spark.plans import queries as Q

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    import tempfile
    tempfile.tempdir = None  # force re-read of TMPDIR
    try:
        # own-pid started long ago relative to a freshly created dir →
        # _pid_started_after(os.getpid(), now) is False (we ARE older)
        assert not Q._pid_started_after(os.getpid(), _time.time())
        # and True against a timestamp far in the past (the dir pre-dates
        # this process → its creator pid was recycled by us)
        assert Q._pid_started_after(os.getpid(), 0.0)

        # sibling dir tagged with OUR live pid+1... use our own pid via a
        # dir whose mtime predates this process: simulate by backdating
        import hashlib
        suffix = hashlib.md5(b"/some/sf").hexdigest()[:8]
        # a fake sibling owned by a live pid (pid 1, started at boot):
        # mtime AFTER pid-1's start → left alone
        sib_live = tmp_path / f"lfts_t_{suffix}_1"
        sib_live.mkdir()
        # a fake sibling owned by a dead pid → reclaimed
        dead_pid = 4194000  # beyond default pid_max ceiling usage
        sib_dead = tmp_path / f"lfts_t_{suffix}_{dead_pid}"
        sib_dead.mkdir()

        before = len(Q._SCRATCH_REGISTERED)
        p1 = Q._stream_scratch_dir("t", "/some/sf")
        p2 = Q._stream_scratch_dir("t", "/some/sf")
        assert p1 == p2
        assert len(Q._SCRATCH_REGISTERED) == before + 1  # one handler
        assert not sib_dead.exists()  # dead-pid sibling reclaimed
        assert sib_live.exists()  # live pid-1 (init) left alone
    finally:
        tempfile.tempdir = None
