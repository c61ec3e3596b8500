"""Corpus-curation operators (operators/curation.py): deterministic
sampling, domain caps, repetition scoring, contamination checks, vocab
top-k — behavioral goldens + plan-shape guards. The DuckDB oracle rows
run via tools/selfcheck.py (stratified_sample, domain_cap,
repetition_ratio, contamination_check, vocab_topk, curation_pipeline)."""

from pyspark.sql import functions as F

from logstash_filter_translate_spark.operators.curation import (
    SAMPLE_BUCKETS,
    contamination_check,
    curation_pipeline,
    domain_cap,
    repetition_ratio,
    stratified_sample,
    vocab_topk,
)


def _docs(spark):
    rows = [
        # (doc_id, text, lang, source)
        (1, "a b c a b c a b c", "en", "s1"),        # repetitive
        (2, "one two three four five six", "en", "s1"),
        (3, "eins zwei drei vier funf sechs", "de", "s2"),
        (4, "un deux trois quatre cinq six", "fr", "s2"),
        (5, "x y", "en", "s1"),                       # < 3 tokens: no shingles
        (6, "one two three seven eight nine", "en", "s2"),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )


def test_stratified_sample_is_deterministic_and_respects_rates(spark):
    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("xx").alias("lang"),
    )
    out = stratified_sample(df, "lang", {"en": 0.5}, "doc_id", 0.0)
    rows = out.groupBy("lang").count().collect()
    by_lang = {r["lang"]: r["count"] for r in rows}
    assert "xx" not in by_lang          # default rate 0 drops the stratum
    assert 350 < by_lang["en"] < 650    # ~50% of the 1000 en docs
    # rerun → identical keep-set (pure function of the id, no RNG)
    again = stratified_sample(df, "lang", {"en": 0.5}, "doc_id", 0.0)
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_domain_cap_keeps_best_per_domain(spark):
    df = spark.createDataFrame(
        [(i, "d1" if i < 8 else "d2", float(i)) for i in range(10)],
        "doc_id long, source string, score double",
    )
    out = domain_cap(df, "source", "doc_id", 3, order_col="score")
    kept = {r["source"]: sorted(x["doc_id"] for x in out.collect()
                                if x["source"] == r["source"])
            for r in out.select("source").distinct().collect()}
    assert kept["d1"] == [5, 6, 7]   # top-3 scores within d1
    assert kept["d2"] == [8, 9]      # under the cap: all kept


def test_domain_cap_plan_uses_window_group_limit(spark, testdata_dir):
    # the cap must run as WindowGroupLimit (partial top-k BEFORE the
    # exchange) so one hot crawl domain can't flood the shuffle
    df = spark.read.parquet(f"{testdata_dir}/documents.parquet")
    out = domain_cap(df, "source", "doc_id", 5, order_col="n_chars")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_repetition_ratio_counts(spark):
    out = {
        r["doc_id"]: (r["max_ngram_cnt"], r["total_ngrams"])
        for r in repetition_ratio(_docs(spark), "text", "doc_id").collect()
    }
    # doc 1: 9 tokens → 7 shingles; "a b c" appears at pos 1,4,7 → max 3
    assert out[1] == (3, 7)
    # doc 2: 6 tokens → 4 distinct shingles, each once
    assert out[2] == (1, 4)
    # doc 5: fewer than 3 tokens → no shingle, no row
    assert 5 not in out


def test_contamination_check_flags_shared_shingles(spark):
    docs = _docs(spark)
    bench = docs.filter(F.col("doc_id") == 2)       # "one two three ..."
    corpus = docs.filter(F.col("doc_id") != 2)
    flagged = sorted(
        r["doc_id"]
        for r in contamination_check(corpus, bench, "text", "doc_id").collect()
    )
    # doc 6 shares the "one two three" shingle; nothing else overlaps
    assert flagged == [6]


def test_vocab_topk_deterministic_ties(spark):
    out = vocab_topk(_docs(spark), "text", 3).collect()
    # 'a','b','c' appear 3x each; 'six' 2x — ties break token-asc
    assert [(r["token"], r["cnt"]) for r in out] == [
        ("a", 3), ("b", 3), ("c", 3)
    ]


def test_curation_pipeline_composes(spark):
    out = curation_pipeline(
        _docs(spark),
        "text",
        "doc_id",
        "lang",
        {"en": 1.0, "de": 1.0, "fr": 1.0},
        "source",
        cap=10,
        max_repetition_pct=50,
    )
    kept = sorted(r["doc_id"] for r in out.collect())
    # doc 1 (max 3 of 7 shingles = 43% <= 50%) survives; doc 5 has zero
    # shingles → dropped by the repetition gate's total>0 requirement
    assert 5 not in kept
    assert 1 in kept and 2 in kept
    assert SAMPLE_BUCKETS == 10_000  # rate resolution contract


# -- property invariants ---------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_PROP = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow, HealthCheck.function_scoped_fixture,
    ],
)


@given(
    ids=st.lists(
        st.integers(min_value=0, max_value=10**9),
        min_size=1, max_size=40, unique=True,
    ),
    rate_pct=st.integers(min_value=0, max_value=100),
)
@_PROP
def test_stratified_sample_monotone_and_subset(spark, ids, rate_pct):
    # raising the rate can only ADD rows (the hash threshold is a pure
    # function of the id), and every kept row existed in the input
    df = spark.createDataFrame([(i, "en") for i in ids], "doc_id long, lang string")
    lo = stratified_sample(df, "lang", {"en": rate_pct / 100}, "doc_id")
    hi = stratified_sample(df, "lang", {"en": min(1.0, rate_pct / 100 + 0.25)},
                           "doc_id")
    lo_ids = {r["doc_id"] for r in lo.collect()}
    hi_ids = {r["doc_id"] for r in hi.collect()}
    assert lo_ids <= hi_ids <= set(ids)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),
            st.sampled_from(["d1", "d2", "d3"]),
        ),
        min_size=1, max_size=40, unique_by=lambda t: t[0],
    ),
    cap=st.integers(min_value=1, max_value=6),
)
@_PROP
def test_domain_cap_never_exceeds_cap(spark, rows, cap):
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = domain_cap(df, "source", "doc_id", cap)
    counts = {
        r["source"]: r["count"]
        for r in out.groupBy("source").count().collect()
    }
    assert all(c <= cap for c in counts.values())
    # deterministic choice: lowest ids win per domain
    import collections

    per = collections.defaultdict(list)
    for i, s in rows:
        per[s].append(i)
    expected = {s: sorted(v)[:cap] for s, v in per.items()}
    got = collections.defaultdict(list)
    for r in out.collect():
        got[r["source"]].append(r["doc_id"])
    assert {s: sorted(v) for s, v in got.items()} == expected


def test_pii_redaction_rules_and_order(spark):
    from logstash_filter_translate_spark.functions.text import (
        redact, redaction_counts,
    )

    df = spark.createDataFrame(
        [("write to a.b+c@x-corp.co.uk or call +44-123-4567, "
          "server at 192.168.0.1 stays hidden",),
         ("no pii here",)],
        "s string",
    )
    n = redaction_counts(F.col("s"))
    out = df.select(
        redact(F.col("s")).alias("r"),
        n[0].alias("ne"), n[1].alias("np"), n[2].alias("ni"),
    ).collect()
    assert out[0]["r"] == (
        "write to <EMAIL> or call <PHONE>, server at <IP> stays hidden"
    )
    assert (out[0]["ne"], out[0]["np"], out[0]["ni"]) == (1, 1, 1)
    assert out[1]["r"] == "no pii here"
    assert (out[1]["ne"], out[1]["np"], out[1]["ni"]) == (0, 0, 0)


def test_stratified_sample_rate_rounds_not_truncates(spark):
    """int(0.57*10000) == 5699, so truncating binary-float rates lands
    one bucket below the configured rate. The threshold must
    round: with rate=0.57 the keep-set must include a bucket-5699 row
    (5699 < 5700), which truncation would drop."""
    from logstash_filter_translate_spark.functions.text import hash32
    from logstash_filter_translate_spark.operators.curation import (
        stratified_sample,
    )

    ids = spark.range(0, 100000).select(
        F.col("id").alias("doc_id"), F.lit("en").alias("lang")
    )
    # the boundary bucket: ids hashing to exactly 5699 are kept by the
    # rounded threshold (5699 < 5700) and dropped by the truncated one
    boundary = {
        r["doc_id"]
        for r in ids.withColumn(
            "b", F.pmod(hash32(F.col("doc_id").cast("string")), F.lit(10000))
        )
        .filter("b = 5699")
        .collect()
    }
    assert boundary, "no bucket-5699 id in range — widen the id range"
    kept = {
        r["doc_id"]
        for r in stratified_sample(
            ids, "lang", {"en": 0.57}, "doc_id"
        ).collect()
    }
    assert boundary <= kept


def test_token_budget_mix_three_regimes_and_subset_nesting(spark):
    """token_budget_mix: a budget ≥ supply keeps the stratum whole (LEAST
    cap), a binding budget keeps a deterministic strict subset, an absent
    stratum (budget 0) is dropped entirely, and a smaller budget
    draws a strict subset of a larger one (same unseeded hash → mix
    ablations nest)."""
    from logstash_filter_translate_spark.operators.curation import (
        token_budget_mix,
    )

    rows = [
        (i, "w " * (i % 7 + 1) + "end", ["en", "de", "fr"][i % 3], "s")
        for i in range(300)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )

    def keep(budgets):
        out = token_budget_mix(docs, "lang", budgets, "doc_id", "text")
        return {(r["doc_id"], r["lang"]) for r in out.collect()}

    k1 = keep({"en": 10_000_000, "de": 150})
    # en budget exceeds supply → every en doc kept
    assert {d for d, l in k1 if l == "en"} == {
        i for i in range(300) if i % 3 == 0
    }
    # de budget binds → strict, non-empty subset
    de_all = {i for i in range(300) if i % 3 == 1}
    de_kept = {d for d, l in k1 if l == "de"}
    assert de_kept and de_kept < de_all
    # fr absent from budgets → dropped
    assert not {d for d, l in k1 if l == "fr"}
    # determinism
    assert keep({"en": 10_000_000, "de": 150}) == k1
    # nesting: halving the de budget draws a subset of the larger draw
    smaller = {d for d, l in keep({"de": 75}) if l == "de"}
    assert smaller <= de_kept


def test_shuffle_shards_is_a_deterministic_partition_with_dense_pos(spark):
    """shuffle_shards: shards partition the id set, pos is dense 1..n per
    shard ordered by the seeded hash, and the whole assignment is a pure
    function of the id."""
    from logstash_filter_translate_spark.operators.curation import (
        shuffle_shards,
    )

    docs = spark.range(0, 500).select(
        F.col("id").alias("doc_id"), F.lit("t").alias("text")
    )
    out = shuffle_shards(docs, "doc_id", 8).collect()
    assert {r["doc_id"] for r in out} == set(range(500))
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) <= set(range(8)) and len(by_shard) == 8
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    # deterministic rerun
    out2 = shuffle_shards(docs, "doc_id", 8).collect()
    assert {(r["doc_id"], r["shard"], r["pos"]) for r in out2} == {
        (r["doc_id"], r["shard"], r["pos"]) for r in out
    }


def test_pack_sequences_layout_matches_brute_force(spark):
    """pack_sequences: (seq, off) equals the brute-force packing of the
    shard's token stream in shuffle order — off < seq_len, the first doc
    of every shard lands at (0, 0), and the layout is a pure function of
    the id."""
    from logstash_filter_translate_spark.operators.curation import (
        pack_sequences,
        shuffle_shards,
    )

    docs = spark.range(0, 300).select(
        F.col("id").alias("doc_id"),
        # 1..13 tokens, deterministic per id
        F.concat_ws(
            " ", F.array_repeat(F.lit("w"), (F.col("id") % 13 + 1).cast("int"))
        ).alias("text"),
    )
    seq_len = 16
    out = pack_sequences(docs, "doc_id", "text", 8, seq_len).collect()
    assert {r["doc_id"] for r in out} == set(range(300))
    order = {
        r["doc_id"]: (r["shard"], r["pos"])
        for r in shuffle_shards(docs, "doc_id", 8).collect()
    }
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: order[r["doc_id"]][1])
        cum = 0
        for r in rows:
            assert (r["seq"], r["off"]) == (cum // seq_len, cum % seq_len), r
            assert 0 <= r["off"] < seq_len
            cum += r["doc_id"] % 13 + 1
        assert (rows[0]["seq"], rows[0]["off"]) == (0, 0)
    # pure function of the id: rerun identical
    again = {
        (r["doc_id"], r["shard"], r["seq"], r["off"])
        for r in pack_sequences(docs, "doc_id", "text", 8, seq_len).collect()
    }
    assert again == {
        (r["doc_id"], r["shard"], r["seq"], r["off"]) for r in out
    }


def test_pack_sequences_single_exchange_like_shuffle_shards(spark):
    """The running token sum rides shuffle_shards' exchange+sort: exactly
    one hash exchange on shard (plus the scan), never a global sort."""
    from logstash_filter_translate_spark.operators.curation import (
        pack_sequences,
    )

    docs = spark.range(0, 100).select(
        F.col("id").alias("doc_id"), F.lit("a b c").alias("text")
    )
    plan = (
        pack_sequences(docs, "doc_id", "text", 4, 8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_token_budget_mix_upsample_epochs(spark):
    """upsample=True: whole copies = budget div total, the remainder
    draw lands on EXACTLY the docs the equivalent downsample would keep
    (same unseeded hash → mixes nest), a sub-supply budget degenerates
    to the downsample doc set with copy=1, and absent strata drop."""
    from logstash_filter_translate_spark.operators.curation import (
        token_budget_mix,
    )

    rows = [
        (i, "w " * (i % 7 + 1) + "end", ["en", "fr"][i % 2], "s")
        for i in range(200)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    tot_en = sum(i % 7 + 2 for i in range(200) if i % 2 == 0)

    up = token_budget_mix(
        docs, "lang", {"en": tot_en * 2 + tot_en // 2}, "doc_id", "text",
        upsample=True,
    ).collect()
    # fr absent → dropped
    assert all(r["lang"] == "en" for r in up)
    copies = {}
    for r in up:
        copies[r["doc_id"]] = max(copies.get(r["doc_id"], 0), r["copy"])
        assert r["copy"] >= 1
    en_ids = {i for i in range(200) if i % 2 == 0}
    # every en doc present with >= 2 whole copies; copy numbering dense
    assert set(copies) == en_ids
    assert all(v in (2, 3) for v in copies.values())
    assert sum(1 for r in up) == sum(copies.values())
    # the extra-copy set == the docs a budget-(tot//2) downsample keeps
    extra = {d for d, v in copies.items() if v == 3}
    down = {
        r["doc_id"]
        for r in token_budget_mix(
            docs, "lang", {"en": tot_en // 2}, "doc_id", "text"
        ).collect()
    }
    assert extra == down
    # sub-supply budget with upsample → downsample doc set, all copy=1
    sub = token_budget_mix(
        docs, "lang", {"en": tot_en // 2}, "doc_id", "text", upsample=True
    ).collect()
    assert {r["doc_id"] for r in sub} == down
    assert all(r["copy"] == 1 for r in sub)


def _py_bucket(tok: str, buckets: int) -> int:
    import hashlib

    return int(hashlib.md5(f"b|{tok}".encode()).hexdigest()[:8], 16) % buckets


def _py_det_weight(bucket: int) -> int:
    import hashlib

    h = int(hashlib.md5(f"quality|{bucket}".encode()).hexdigest()[:8], 16)
    return h % 2001 - 1000


def test_hashed_linear_score_matches_hashlib_reference(spark):
    """The deterministic plane is a pure function of the tokens: an
    independent hashlib reimplementation (not DuckDB, not Spark) must
    reproduce score_milli/n_tokens/keep exactly — and zero-token docs
    drop out."""
    from logstash_filter_translate_spark.operators.curation import (
        hashed_linear_score,
    )

    B = 1 << 10
    rows = [
        (1, "the quick brown fox"),
        (2, "lorem ipsum dolor sit amet"),
        (3, ""),        # zero tokens -> no score row
        (4, "single"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["score_milli"], r["keep"])
        for r in hashed_linear_score(
            docs, "text", "doc_id", buckets=B, threshold_milli=0
        ).collect()
    }
    expect = {}
    for doc_id, text in rows:
        toks = [t for t in text.split(" ") if t]
        if not toks:
            continue
        s = sum(_py_det_weight(_py_bucket(t, B)) for t in toks)
        expect[doc_id] = (len(toks), s, s >= 0)
    assert got == expect


def test_chunk_documents_layout_and_overlap(spark):
    """Hand-checkable layout: 10 tokens, 4-token windows, stride 3 →
    starts 1/4/7/10, sizes 4/4/4/1; min_tokens=2 drops the 1-token tail;
    adjacent chunks overlap by one token; chunk_id is the 0-based window
    ordinal; zero-token docs vanish."""
    from logstash_filter_translate_spark.operators.curation import (
        chunk_documents,
    )

    docs = spark.createDataFrame(
        [(1, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"), (2, "")],
        "doc_id long, text string",
    )
    got = sorted(
        (r["doc_id"], r["chunk_id"], r["n_tokens"], r["chunk_text"])
        for r in chunk_documents(
            docs, "text", "doc_id", chunk_tokens=4, stride=3, min_tokens=2
        ).collect()
    )
    assert got == [
        (1, 0, 4, "t1 t2 t3 t4"),
        (1, 1, 4, "t4 t5 t6 t7"),
        (1, 2, 4, "t7 t8 t9 t10"),
    ]


def test_chunk_documents_map_only_plan(spark):
    """The operator is a pure one-to-many expansion: its physical plan
    contains NO Exchange (and no join/aggregate) — the cheapest shape in
    the module, per docs/PLANS.md."""
    from logstash_filter_translate_spark.operators.curation import (
        chunk_documents,
    )

    docs = spark.createDataFrame(
        [(i, "a b c d e f g h") for i in range(10)],
        "doc_id long, text string",
    )
    plan = chunk_documents(
        docs, "text", "doc_id", chunk_tokens=4, stride=4
    )._jdf.queryExecution().executedPlan().toString()
    for forbidden in ("Exchange", "Join", "Aggregate"):
        assert forbidden not in plan, (forbidden, plan[:1200])
