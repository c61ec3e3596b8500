"""Text-analysis primitives for large-scale training-data pipelines:
tokenization, quality scoring, language ID, fingerprinting, portable
hashing, shingling.

Design constraints:
  - everything stays JVM-side (built-in pyspark.sql.functions, whole-stage
    codegen) — no Python in the hot path;
  - every function has an exact ANSI-SQL equivalent so the DuckDB oracle can
    verify it value-for-value (the md5-based 32-bit hash is the portable
    hashing primitive: Spark ``conv(substr(md5(x),1,8),16,10)`` ==
    DuckDB ``cast('0x'||substr(md5(x),1,8) as bigint)``).
"""

from __future__ import annotations

from typing import List, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# hashing
# ---------------------------------------------------------------------------

def hash32(col: Column) -> Column:
    """Deterministic unsigned 32-bit hash from the md5 hex prefix.

    Portable across engines (unlike xxhash64/murmur which differ between
    Spark and DuckDB). Cost: one md5 per value — fine for shingle-scale
    cardinalities; use F.xxhash64 where cross-engine parity isn't needed.
    """
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


# fixed MinHash coefficients (a*h + b) mod p — deterministic, no RNG at
# plan time; p is the Mersenne prime 2^31-1
MINHASH_P = 2147483647
MINHASH_COEF: List[Tuple[int, int]] = [
    (1299721, 104729),
    (15485863, 32452843),
    (49979687, 67867967),
    (86028121, 15485867),
    (22801763, 49979693),
    (67867979, 86028157),
    (32452867, 22801777),
    (104729, 1299709),
]


# ---------------------------------------------------------------------------
# tokenization & shingles
# ---------------------------------------------------------------------------

def tokens(text: Column) -> Column:
    """Whitespace tokens; empty string → empty array (matches DuckDB
    ``string_split(text,' ')`` filtered of empties).

    ``array_remove(split, '')`` — NOT ``filter(split, t -> t != '')``:
    the two are element-for-element identical here (split emits no
    NULLs, and both drop exactly the '' elements, preserving order), but
    ``filter``'s lambda is an interpreted Catalyst HOF evaluated per row
    while ArrayRemove code-generates — and this array feeds every
    tokenize → shingle/explode pipeline in the engine.
    """
    return F.array_remove(F.split(text, " "), "")


def token_count(text: Column) -> Column:
    """Whitespace-token count — fully codegen via :func:`tokens`.

    NOT ``regexp_count(text, '[^ ]+')`` (a measured negative result): that
    rewrites to ``size(regexp_extract_all(...))``, which MATERIALIZES
    every token match as a string array per evaluation — measured 1.3×
    the split+array_remove form in the filter-pushdown context where a
    consumer filters on the count (each reference in a FilterExec
    condition re-evaluates the whole extract-all).
    """
    return F.size(tokens(text))


def word_shingles(toks: Column, n: int = 3) -> Column:
    """Overlapping word n-grams as strings, in start order; fewer than n
    tokens (or NULL tokens) → empty array. The default ``n = 3`` is the
    shingle of every document-similarity operator (MinHash, Jaccard,
    repetition, contamination, boilerplate inventory).

    One codegen ``regexp_extract_all`` over the space-joined tokens: the
    anchor matches at each token start, the zero-width lookahead
    captures the n tokens from there, so successive matches overlap.
    Tokens never hold a space (``tokens`` splits on it), so the join is
    lossless. No interpreted lambda, no explode or shuffle. (The DuckDB
    oracle states the same set via a pos self-join.)

    The anchor is ``^`` or a positive lookbehind for the space, never
    ``(?<![^ ])``: after each empty match the matcher steps one UTF-16
    unit, and between the halves of a surrogate pair that negative
    lookbehind holds (``[^ ]`` cannot match half a code point), which
    would emit a gram starting with a lone low surrogate.
    """
    gram = "(?:^|(?<= ))(?=([^ ]+(?: [^ ]+){%d}))" % (n - 1)
    return F.coalesce(
        F.regexp_extract_all(F.array_join(toks, " "), F.lit(gram), 1),
        F.array().cast("array<string>"),
    )


def word_tiles(toks: Column, k: int) -> Column:
    """Consecutive non-overlapping k-word windows (the last one may be
    shorter), as strings; no tokens → empty array, NULL tokens → NULL.
    The tiling sibling of :func:`word_shingles`: the same joined string,
    one greedy ``regexp_extract_all`` whose matches cannot overlap."""
    tile = "[^ ]+(?: [^ ]+){0,%d}" % (k - 1)
    return F.regexp_extract_all(F.array_join(toks, " "), F.lit(tile), 0)


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------

def quality_score(text: Column) -> Column:
    """0..3 heuristic score: long enough, not digit-heavy, sane token length.
    Deterministic integer so oracles compare exactly.

    DELIBERATELY interpreted-HOF (a measured negative result): this
    score's heavy consumer (corpus_filter) FILTERS on it, and predicate
    pushdown re-states the whole expression in the scan-side FilterExec
    — where codegen evaluates each of the token-array references anew
    (FilterExec gets no subexpression elimination), while Spark's
    interpreted predicate path caches common subtrees per row
    (SubExprEvaluationRuntime), so the lambda form builds the token
    array ONCE. Rotated 10×-scale A/B of the full query: HOF 1.7 s vs
    codegen array_remove 2.3 s vs regexp_count 3.4 s (regexp_count
    rewrites to size(regexp_extract_all(...)) — it MATERIALIZES every
    token, three times, in the filter). The codegen forms win only in
    pure-projection contexts (``token_count``)."""
    toks = F.filter(F.split(text, " "), lambda t: t != "")
    n_tok = F.size(toks)
    digits = F.length(text) - F.length(F.regexp_replace(text, r"[0-9]", ""))
    long_enough = (n_tok >= 10).cast("int")
    low_digit = (digits * 10 < F.length(text)).cast("int")
    mean_len_ok = F.when(
        n_tok > 0,
        (
            F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t))
            .cast("double")
            / n_tok
        ).between(2.0, 12.0),
    ).otherwise(F.lit(False)).cast("int")
    return (long_enough + low_digit + mean_len_ok).alias("quality_score")


#: BPE-ish pre-tokenizer: letter runs | digit runs | punctuation runs —
#: ASCII subset of the GPT-2 pre-tokenizer pattern, dialect-neutral across
#: Java regex (Spark) and RE2 (DuckDB)
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def bpe_ish_token_count(text: Column) -> Column:
    """Count of BPE-ish pre-tokens (DuckDB:
    ``len(regexp_extract_all(text, pat))``)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0))


# ---------------------------------------------------------------------------
# fingerprinting
# ---------------------------------------------------------------------------

ROLLING_B = 131
ROLLING_P = 2147483647
ROLLING_WINDOW = 64
#: B^i mod P for i in 0..63 — plan literals, identical in the SQL oracle
ROLLING_POWS = []
_acc = 1
for _ in range(ROLLING_WINDOW):
    ROLLING_POWS.append(_acc)
    _acc = (_acc * ROLLING_B) % ROLLING_P


def rolling_fingerprint(text: Column) -> Column:
    """Polynomial (Rabin-Karp-style) rolling hash of the first 64 chars:
    ``Σ ascii(ch_i) * B^i  mod P`` — the incremental-update form is what a
    streaming dedup shingler uses; the fixed-window form here is its
    oracle-checkable anchor."""
    pows = F.array(*[F.lit(p) for p in ROLLING_POWS])
    idx = F.sequence(F.lit(1), F.least(F.length(text), F.lit(ROLLING_WINDOW)))
    terms = F.transform(
        idx,
        lambda i: F.ascii(F.substring(text, 1, ROLLING_WINDOW).substr(i, F.lit(1)))
        .cast("long")
        * F.element_at(pows, i),
    )
    return F.when(
        text.isNotNull() & (F.length(text) > 0),
        F.aggregate(terms, F.lit(0).cast("long"), lambda a, x: a + x) % ROLLING_P,
    )

def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text.
    (DuckDB: ``md5(lower(regexp_replace(text,'\\s+',' ','g')))``)."""
    return F.md5(F.lower(F.regexp_replace(text, r"\s+", " ")))


# ---------------------------------------------------------------------------
# language ID (n-gram/stopword profile heuristic)
# ---------------------------------------------------------------------------

#: profile count above which langid_scores falls back from the pivoted
#: single-aggregate plane (one conditional sum column per language) to
#: the broadcast-join plane — a wide unrolled projection over many
#: languages hits the JIT's method-size limit (a measured negative result),
#: while marker-profile lists are small by construction.
LANGID_PIVOT_MAX_LANGS = 16


def langid_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    profiles: Sequence[Tuple[str, Sequence[str]]],
) -> DataFrame:
    """Heuristic language ID: argmax over per-language marker-word hit
    counts. Returns (id_col, lang_id) for the documents with at least one
    marker hit; a document with none has no row (a caller that reports
    it as 'und' left-joins the corpus ids).

    Plane (≤ ``LANGID_PIVOT_MAX_LANGS`` languages): explode tokens →
    codegen ``isin`` prefilter on the union marker set → ONE partial
    aggregate keyed on the doc id with a conditional hit sum per
    language → pure-expression argmax (``array_min`` over
    struct(-hits, lang) — identical winner rule to the old two-aggregate
    min_by plane: hits DESC, lang ASC; a zero-hit language's struct
    (0, lang) can never beat a positive one's (-n, lang), and every
    aggregated doc has ≥1 hit by the prefilter). vs the old shape this
    removes the broadcast-join build/probe on every token AND one full
    exchange+aggregate — at 100 TB the exchange carries |langs| longs
    per marker-bearing doc either way, but only once. A word listed
    under several languages still scores each of them (the conditional
    sums are independent — the join plane's fan-out semantics, which a
    first-match CASE lookup would break). Beyond the pivot bound the
    broadcast-join + min_by plane remains (wide unrolled projections
    exceed the JIT's method-size limit).
    """
    tok = df.select(id_col, F.explode(tokens(F.col(text_col))).alias("w"))
    if len(profiles) <= LANGID_PIVOT_MAX_LANGS:
        all_words = sorted({w for _, words in profiles for w in words})
        hits = tok.filter(F.col("w").isin(all_words))
        sums = [
            F.sum(F.col("w").isin(list(words)).cast("long")).alias(f"__h{i}")
            for i, (_, words) in enumerate(profiles)
        ]
        ranked = F.array(
            *[
                F.struct(
                    (-F.col(f"__h{i}")).alias("h"),
                    F.lit(lang).alias("l"),
                )
                for i, (lang, _) in enumerate(profiles)
            ]
        )
        return (
            hits.groupBy(id_col)
            .agg(*sums)
            .select(
                id_col, F.array_min(ranked).getField("l").alias("lang_id")
            )
        )
    spark = df.sparkSession
    marker_rows = [(lang, w) for lang, words in profiles for w in words]
    markers = spark.createDataFrame(
        marker_rows, "lang_cand string, w string"
    )
    scores = (
        tok.join(F.broadcast(markers), "w")
        .groupBy(id_col, "lang_cand")
        .agg(F.count("*").alias("hits"))
    )
    return scores.groupBy(id_col).agg(
        F.min_by(
            "lang_cand",
            F.struct(
                (-F.col("hits")).alias("h"),
                F.col("lang_cand").alias("l"),
            ),
        ).alias("lang_id")
    )


# ---------------------------------------------------------------------------
# PII redaction (training-data scrub)
# ---------------------------------------------------------------------------

#: the redaction rules: (pattern, replacement-token), applied in order.
#: Patterns stay in the Java-regex ∩ RE2 common subset so the DuckDB oracle
#: states the same substitution.
PII_RULES: List[Tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,10}", "<PHONE>"),
    (r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
]


def redact(col: Column) -> Column:
    """Replace every occurrence of every ``PII_RULES`` pattern with its
    token — the standard pre-training PII scrub, as a whole-stage-codegen
    ``regexp_replace`` chain (one pass per rule, JVM-side, no Python).
    Rule order matters: earlier rules consume their text first (an email
    is redacted before the IP rule could see its host part)."""
    out = col
    for pattern, token in PII_RULES:
        out = F.regexp_replace(out, pattern, token)
    return out


def redaction_counts(col: Column) -> List[Column]:
    """Per-rule (``PII_RULES``) match counts (audit metric for the scrub) — codegen
    ``regexp_count``. Each rule is counted against the text with all EARLIER
    rules already applied (the same chaining ``redact`` uses), so counts
    equal actual substitutions even when rule matches overlap — e.g. an
    IP-shaped or phone-shaped substring inside an email that the email rule
    consumed first is not double-counted."""
    out: List[Column] = []
    cur = col
    for pattern, token in PII_RULES:
        out.append(F.regexp_count(cur, F.lit(pattern)))
        cur = F.regexp_replace(cur, pattern, token)
    return out
