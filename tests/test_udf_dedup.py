"""The Arrow UDF plane looks up each distinct key once per Arrow batch and
hands that result to every row holding the key. Over several batches
(``maxRecordsPerBatch`` is 4096) of repeated keys, NULLs and a repeated
faulting key, every row must equal a per-row lookup, and every faulting row
must carry its error and route ``failed``."""

import re

from pyspark.sql import functions as F

from logstash_filter_translate_spark.config import TranslateConfig
from logstash_filter_translate_spark.operators.lookup import (
    RES_COL,
    RegexFirstMatch,
    UnionSubstitution,
    build_strategy,
)
from logstash_filter_translate_spark.operators.translate import Translate

N_ROWS = 9000  # three Arrow batches in one partition
VOCAB = ["click", "boomer", None, "x123", "zzz", "an err", "xaax", "abcd", "", "ZZtop"]
FAULT = "^boom"
REGEX = [("^c", "C"), (r"\d{3}$", "NUM"), ("err", "E"), ("zz", "Z")]


def _keys():
    # every 13th key is unique to its row, the rest repeat across batches
    return [f"u{i}" if i % 13 == 0 else VOCAB[i % len(VOCAB)] for i in range(N_ROWS)]


def _first_match(pairs, s, fault=None):
    """Per-row ``(matched, value, key, error)`` of the ordered scan."""
    if s is None:
        return (False, None, None, None)
    if fault is not None and re.search(fault, s):
        return (False, None, None, f"RuntimeError: injected lookup fault for {s!r} "
                "(translate_spec.rb:738-742 containment parity)")
    for k, v in pairs:
        if re.search(k, s):
            return (True, v, k, None)
    return (False, None, None, None)


def _row(st):
    return None if st is None else (st["matched"], st["value"], st["key"], st["error"])


def _scalar_frame(spark):
    rows = [(i, k) for i, k in enumerate(_keys())]
    return spark.createDataFrame(rows, "id int, k string").coalesce(1)


def _array_frame(spark):
    keys = _keys()
    rows = [(i, None if i % 17 == 0 else [keys[i], keys[(i * 7) % N_ROWS], None])
            for i in range(N_ROWS)]
    return spark.createDataFrame(rows, "id int, ks array<string>").coalesce(1)


def _scalar_probes(strat, df):
    df, _ = strat.probe_frame(df, F.col("k"))
    return {r["id"]: (r["k"], _row(r[RES_COL])) for r in df.collect()}


def test_scalar_regex_dedup_equals_per_row_lookup(spark):
    strat = RegexFirstMatch(REGEX, fault_pattern=FAULT)
    got = _scalar_probes(strat, _scalar_frame(spark))
    assert len(got) == N_ROWS
    for k, res in got.values():
        assert res == _first_match(REGEX, k, FAULT), k

    op = Translate(
        TranslateConfig(source="k", target="t", dictionary=REGEX, regex=True,
                        fallback="fb"),
        spark=spark,
    )
    op.strategy = strat
    out = op.apply(_scalar_frame(spark)).collect()
    faults = [r for r in out if r["k"] is not None and r["k"].startswith("boom")]
    assert faults and all(r["route"] == "failed" and r["t"] is None for r in faults)
    assert sum(r["route"] == "failed" for r in out) == len(faults)


def test_iterate_on_regex_dedup_equals_per_row_lookup(spark):
    strat = RegexFirstMatch(REGEX, fault_pattern=FAULT)
    df, _ = strat.probe_each(_array_frame(spark), F.col("ks"))
    rows = df.collect()
    assert len(rows) == N_ROWS
    for r in rows:
        want = None if r["ks"] is None else [
            _first_match(REGEX, k, FAULT) for k in r["ks"]
        ]
        got = None if r[RES_COL] is None else [_row(s) for s in r[RES_COL]]
        assert got == want, r["ks"]

    op = Translate(
        TranslateConfig(source="ks", iterate_on="ks", target="t", dictionary=REGEX,
                        regex=True, fallback="fb"),
        spark=spark,
    )
    op.strategy = strat
    for r in op.apply(_array_frame(spark)).collect():
        fails = r["ks"] is not None and any(k and k.startswith("boom") for k in r["ks"])
        assert (r["route"] == "failed") == fails, r["ks"]


def test_union_udf_plane_dedup_equals_per_row_lookup(spark):
    # "bc" and "ab" overlap, so the union takes the UDF plane
    pairs = [("bc", "Y"), ("ab", "X"), ("zz", "W")]
    strat = build_strategy("union", pairs)
    assert isinstance(strat, UnionSubstitution)
    pat = re.compile("|".join(re.escape(k) for k, _ in pairs))
    mapping = dict(pairs)

    def want(s):
        if s is None or not pat.search(s):
            return (False, None, None, None)
        out = pat.sub(lambda m: mapping[m.group(0)], s)
        return (True, out, pat.search(s).group(0), None)

    for k, res in _scalar_probes(strat, _scalar_frame(spark)).values():
        assert res == want(k), k
    df, _ = strat.probe_each(_array_frame(spark), F.col("ks"))
    for r in df.collect():
        assert (None if r[RES_COL] is None else [_row(s) for s in r[RES_COL]]) == (
            None if r["ks"] is None else [want(k) for k in r["ks"]]
        ), r["ks"]


def test_regex_first_match_with_and_without_required_literals(spark):
    # "[a-c]{4}" has no required literal, so the ordered scan searches it
    # for every value; the others are screened by their literal
    literal_free = [("zzz1", "v1"), ("zzz2", "v2"), ("[a-c]{4}", "abc4"), ("ZZ", "v4"),
                    ("123$", "v5")]
    with_backref = literal_free + [(r"(a)\1", "double-a")]
    all_literal = [("zzz1", "v1"), ("zzz2", "v2"), ("abcd", "abc4"), ("ZZ", "v4"),
                   ("123$", "v5")]
    df = _scalar_frame(spark)
    for pairs in (literal_free, with_backref, all_literal):
        strat = RegexFirstMatch(pairs, fault_pattern=FAULT)
        for k, res in _scalar_probes(strat, df).values():
            assert res == _first_match(pairs, k, FAULT), (pairs, k)
