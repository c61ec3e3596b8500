"""Property-based plane equivalence (hypothesis): random dictionaries and
inputs must agree across physical planes — the at-scale plane can never
diverge from the reference-semantics plane."""

import re
import string

import pandas as pd

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from logstash_filter_translate_spark import translate
from logstash_filter_translate_spark.operators.lookup import (
    RegexFirstMatch,
    required_literal,
    union_chain_safe,
)
from tests.conftest import exact_plane

KEYS = st.text(string.ascii_lowercase + string.digits, min_size=1, max_size=6)
VALS = st.text(string.ascii_letters + " ", min_size=0, max_size=8)
PROP_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


@given(d=st.dictionaries(KEYS, VALS, min_size=1, max_size=12),
       probes=st.lists(KEYS | VALS, min_size=1, max_size=12))
@PROP_SETTINGS
def test_exact_map_literal_equals_broadcast_join(spark, d, probes):
    df = spark.createDataFrame([(p,) for p in probes], "k string")
    with exact_plane("literal"):
        a = translate(df, source="k", dictionary=d, fallback="fb")
    with exact_plane("join"):
        b = translate(df, source="k", dictionary=d, fallback="fb")
    key = lambda r: str(r)
    assert sorted(map(tuple, a.collect()), key=key) == sorted(
        map(tuple, b.collect()), key=key
    )


# tight alphabet → overlaps/boundary collisions are LIKELY, which is what
# the native-safety proof must survive; pure Python so thousands of
# examples are cheap (the Spark round-trip test below keeps 12)
TIGHT_KEYS = st.text("abc", min_size=1, max_size=3)
TIGHT_VALS = st.text("abc", min_size=0, max_size=3)


@given(pairs=st.lists(st.tuples(TIGHT_KEYS, TIGHT_VALS), min_size=1,
                      max_size=5, unique_by=lambda kv: kv[0]),
       probe=st.text("abc", min_size=0, max_size=10))
@settings(max_examples=2000, deadline=None)
def test_native_safety_proof_is_sound_pure_python(pairs, probe):
    """If union_chain_safe accepts a dictionary, the sequential str.replace
    chain (what the JVM plane computes) MUST equal the single-pass gsub
    reference for EVERY input — the proof's soundness, checked without
    Spark at high volume (an unsound proof accepts dict
    [("ab","c"),("cd","z")], which fails on "abd")."""
    if not union_chain_safe(pairs):
        return
    mapping = dict((str(k), str(v)) for k, v in pairs)
    pat = re.compile("|".join(re.escape(k) for k, _ in pairs))
    single_pass = pat.sub(lambda m: mapping[m.group(0)], probe)
    chained = probe
    for k, v in pairs:
        chained = chained.replace(str(k), str(v))
    assert chained == single_pass, (pairs, probe)


# a small regex grammar: literal runs (non-ASCII and escaped ones too),
# classes, repeats, groups, nested and top-level alternation, scoped and
# global flags, backreferences
_ATOMS = st.sampled_from(
    ["a", "b", "ab", "ba", "é", "ß", "K", r"\.", ".", "[ab]", "[^a]", r"\d", r"\b",
     "^", "$"]
)
_PATTERNS = st.recursive(
    _ATOMS,
    lambda inner: st.one_of(
        st.lists(inner, min_size=1, max_size=4).map("".join),
        st.tuples(inner, st.sampled_from(["?", "*", "+", "{0,2}", "{2}", "{1,3}?"])).map(
            lambda t: f"(?:{t[0]}){t[1]}"
        ),
        inner.map(lambda x: f"({x})"),
        inner.map(lambda x: f"({x})\\1"),
        inner.map(lambda x: f"(?i:{x})"),
        st.tuples(inner, inner).map(lambda t: f"(?:{t[0]}|{t[1]})"),
        st.tuples(inner, inner).map("|".join),
    ),
    max_leaves=6,
).flatmap(lambda p: st.sampled_from([p, "(?i)" + p, "(?x)" + p]))
_SUBJECTS = st.text("abABéÉßS.1 K", max_size=10)


def _search(pattern, s):
    try:
        return re.search(pattern, s)
    except re.error:
        return None  # e.g. a backreference to a group that is still open


@given(pattern=_PATTERNS, subjects=st.lists(_SUBJECTS, min_size=1, max_size=8))
@settings(max_examples=1500, deadline=None)
def test_required_literal_is_sound_pure_python(pattern, subjects):
    """Every match of a pattern contains its required literal, so screening
    the ordered scan by it can never lose a match."""
    lit = required_literal(pattern)
    for s in subjects:
        m = _search(pattern, s)
        if m is not None:
            assert lit is None or lit in m.group(0), (pattern, lit, s)


@given(patterns=st.lists(_PATTERNS, min_size=1, max_size=7),
       subjects=st.lists(_SUBJECTS, min_size=1, max_size=8))
@settings(max_examples=300, deadline=None)
def test_regex_filtered_scan_picks_the_plain_first_match(patterns, subjects):
    """The regex UDF body (literal filter, the union prefilter where it
    runs, per-batch dedup) picks the plain ordered scan's (value, key)."""
    pairs = [(p, f"v{i}") for i, p in enumerate(patterns)]
    try:
        udf = RegexFirstMatch(pairs)._scalar_udf.func
    except re.error:
        return
    got = udf(pd.Series(subjects + subjects))
    for i, s in enumerate(subjects + subjects):
        want = next(((v, k) for k, v in pairs if re.search(k, s)), (None, None))
        assert (got["value"][i], got["key"][i]) == want, (pairs, s)
        assert bool(got["matched"][i]) == (want[1] is not None)


def test_required_literal_cases():
    assert required_literal("") is None
    assert required_literal("a|b") is None
    assert required_literal("(?i)abc") is None
    assert required_literal("x(?i:abc)y") in ("x", "y")
    assert required_literal(r"(a)\1") is None
    assert required_literal("(") is None
    assert required_literal(r"\b(?:code|err)-064\b") == "-064"
    assert required_literal(r"ab*cdé\.") == "cdé."
    assert required_literal("(?x) a b # comment") == "ab"
    for pattern, s in [("x(?i:abc)y", "xABCy"), (r"(a)\1", "aa"), ("a|b", "b")]:
        m = re.search(pattern, s)
        lit = required_literal(pattern)
        assert m and (lit is None or lit in m.group(0))


@given(pairs=st.lists(st.tuples(KEYS, VALS), min_size=1, max_size=8,
                      unique_by=lambda kv: kv[0]),
       probes=st.lists(st.text(string.ascii_lowercase + string.digits + " &",
                               min_size=0, max_size=20),
                       min_size=1, max_size=8))
@PROP_SETTINGS
def test_union_native_plane_matches_python_reference(spark, pairs, probes):
    """When the native detector accepts a dictionary, the replace chain must
    equal the single-pass re.sub reference semantics computed in Python."""
    if not union_chain_safe(pairs):
        return  # detector refused; UDF plane is definitionally the reference
    mapping = dict(pairs)
    pat = re.compile("|".join(re.escape(k) for k, _ in pairs))

    def ref(s):
        out = pat.sub(lambda m: mapping[m.group(0)], s)
        return out if out != s else None

    df = spark.createDataFrame([(p,) for p in probes], "s string")
    got = {r["s"]: r["t"] for r in
           translate(df, source="s", target="t", dictionary=pairs,
                     exact=False).collect()}
    for p in set(probes):
        assert got[p] == ref(p), (p, pairs)


# --- connected_components vs a pure-Python union-find -----------------------

def _uf_components(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component label = min member id == the root under min-union
    return {x: find(x) for x in range(n_nodes)}


@given(
    n_nodes=st.integers(min_value=1, max_value=12),
    edge_picks=st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)), max_size=16
    ),
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_connected_components_matches_union_find(spark, n_nodes, edge_picks):
    """Random graphs (self-loops and duplicate edges included): the
    iterative min-label propagation must agree with a sequential
    union-find on every node's component."""
    from logstash_filter_translate_spark.operators.dedup import (
        connected_components,
    )

    edges = [(a % n_nodes, b % n_nodes) for a, b in edge_picks]
    want = _uf_components(n_nodes, edges)
    nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], "id long")
    edf = spark.createDataFrame(edges, "id_a long, id_b long") if edges else \
        spark.createDataFrame([], "id_a long, id_b long")
    got = {
        r["id"]: r["component"]
        for r in connected_components(nodes, edf, id_col="id").collect()
    }
    assert got == want


def _py_span_dedup(rows, k, min_docs):
    """Sequential reference for remove_duplicate_spans: overlapping
    k-grams in >= min_docs docs delete every covered word."""
    from collections import defaultdict

    toks = {i: [t for t in text.split(" ") if t] for i, text in rows}
    docfreq = defaultdict(set)
    grams = {i: [] for i in toks}
    for i, ts in toks.items():
        for s in range(len(ts) - k + 1):
            g = " ".join(ts[s:s + k])
            docfreq[g].add(i)
            grams[i].append((s, g))
    dup = {g for g, ds in docfreq.items() if len(ds) >= min_docs}
    out = {}
    for i, ts in toks.items():
        covered = set()
        for s, g in grams[i]:
            if g in dup:
                covered.update(range(s, s + k))
        clean = " ".join(t for j, t in enumerate(ts) if j not in covered)
        if clean:
            out[i] = clean
    return out


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcd"), max_size=10),
        min_size=1, max_size=8,
    )
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_span_dedup_matches_python_reference(spark, docs):
    """Random tiny-alphabet corpora (cross-doc 3-gram collisions are
    LIKELY, the regime the operator exists for): the distributed
    gram-inventory formulation must agree with the sequential reference
    on every kept doc — including overlap merging, any-offset hits,
    full-coverage drops, and short/empty docs."""
    from logstash_filter_translate_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    want = _py_span_dedup(rows, k=3, min_docs=2)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["clean_text"]
        for r in remove_duplicate_spans(
            df, "text", "doc_id", span_words=3, min_docs=2
        ).collect()
    }
    assert got == want


#: whitespace runs at both ends and inside, tab/newline/CR (which
#: ``tokens`` keeps inside a token), non-ASCII letters and one
#: supplementary-plane character (a UTF-16 surrogate pair)
WINDOW_TEXT = st.text(
    st.sampled_from(["a", "b", "é", "日", "\U0001d49c", " ", "\t", "\n", "\r"]),
    max_size=14,
)


@given(texts=st.lists(WINDOW_TEXT | st.none(), min_size=1, max_size=6))
@example(texts=["  a\tb  日 \U0001d49cé b\r\n a ", None, "", "   ", "a"])
@PROP_SETTINGS
def test_word_windows_match_python_reference(spark, texts):
    """``word_shingles`` (overlapping n-grams, NULL -> []) and
    ``word_tiles`` (non-overlapping k-windows, NULL -> NULL) equal the
    plain-Python windows over ``text.split(" ")`` with empties removed,
    for every window size 1..5."""
    from pyspark.sql import functions as F

    from logstash_filter_translate_spark.functions.text import (
        tokens,
        word_shingles,
        word_tiles,
    )

    df = spark.createDataFrame(list(enumerate(texts)), "i long, text string")
    toks = tokens(F.col("text"))
    sizes = range(1, 6)
    got = df.select(
        "i",
        *[word_shingles(toks, n).alias(f"s{n}") for n in sizes],
        *[word_tiles(toks, n).alias(f"t{n}") for n in sizes],
    ).collect()
    assert len(got) == len(texts)
    for r in got:
        text = texts[r["i"]]
        w = [t for t in text.split(" ") if t] if text is not None else []
        for n in sizes:
            assert r[f"s{n}"] == [
                " ".join(w[i:i + n]) for i in range(len(w) - n + 1)
            ], (text, n)
            assert r[f"t{n}"] == (
                None if text is None
                else [" ".join(w[i:i + n]) for i in range(0, len(w), n)]
            ), (text, n)


def _py_chunks(ts, k, s, m):
    """Sequential reference for chunk_documents."""
    out = []
    for cid, start in enumerate(range(0, len(ts), s)):
        c = ts[start:start + k]
        if len(c) >= m:
            out.append((cid, len(c), " ".join(c)))
    return out


@given(
    words=st.integers(min_value=0, max_value=25),
    k=st.integers(min_value=1, max_value=8),
    s=st.integers(min_value=1, max_value=8),
    m=st.integers(min_value=1, max_value=4),
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_chunk_documents_matches_python_reference(spark, words, k, s, m):
    """Random (doc length, chunk, stride, min) combinations: the
    posexplode layout must agree with the sequential reference on
    chunk ids, sizes, and contents — including stride>chunk gaps,
    single-token chunks, and empty docs."""
    from logstash_filter_translate_spark.operators.curation import (
        chunk_documents,
    )

    ts = [f"w{j}" for j in range(words)]
    df = spark.createDataFrame([(1, " ".join(ts))], "doc_id long, text string")
    got = sorted(
        (r["chunk_id"], r["n_tokens"], r["chunk_text"])
        for r in chunk_documents(
            df, "text", "doc_id", chunk_tokens=k, stride=s, min_tokens=m
        ).collect()
    )
    assert got == sorted(_py_chunks(ts, k, s, m))
