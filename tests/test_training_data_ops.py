"""Training-data operators: dedup family, similarity search, text analysis,
multimodal plumbing."""


import pytest
from pyspark.sql import functions as F

from logstash_filter_translate_spark.functions.text import (
    fingerprint,
    hash32,
    tokens,
    word_shingles,
)
from logstash_filter_translate_spark.multimodal.binary_ops import (
    extract_image_features,
    synthetic_media,
)
from logstash_filter_translate_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from logstash_filter_translate_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "the quick brown fox jumps over a sleepy dog"),  # near dup
        (3, "completely different text about spark pipelines"),
        (4, "the  quick   brown fox jumps over the lazy dog"),  # ws-normalized dup
        (5, "tiny"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_fingerprint_normalizes_whitespace(spark, docs):
    out = {r["doc_id"]: r["dup_cnt"] for r in exact_dedup(docs, "text", "doc_id").collect()}
    assert out[0] == 3  # 0, 1 and 4 collapse
    assert out[2] == 1 and out[3] == 1 and out[5] == 1
    assert 1 not in out and 4 not in out  # min-id kept


def test_minhash_near_dups_share_bands(spark, docs):
    sigs = minhash_signatures(docs, "text", "doc_id")
    pairs = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(sigs, "doc_id").collect()}
    assert (0, 1) in pairs  # identical docs always pair
    # short doc (<3 tokens) has NULL signature and never pairs
    assert not any(5 in p for p in pairs)


def test_simhash_identical_docs_equal_hamming_zero(spark, docs):
    out = {r["doc_id"]: r["simhash"] for r in simhash(docs, "text", "doc_id").collect()}
    assert out[0] == out[1]
    assert out[0] != out[3]


def test_simhash_pairs_banding_finds_all_close_pairs(spark, docs):
    from logstash_filter_translate_spark.operators.dedup import simhash_pairs

    bits, bands, max_h = 32, 4, 3
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(
            docs, "text", "doc_id", bits=bits, bands=bands, max_hamming=max_h
        ).collect()
    }
    # exact recall guarantee (pigeonhole): banding finds EVERY pair within
    # Hamming < bands, so compare against the brute-force ground truth
    sigs = {
        r["doc_id"]: r["simhash"]
        for r in simhash(docs, "text", "doc_id", bits).collect()
        if r["simhash"] is not None
    }
    truth = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for a in sigs
        for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= max_h
    }
    assert got == truth
    assert (0, 1) in got and got[(0, 1)] == 0  # identical docs
    assert not any(5 in p for p in got)  # tokenless doc never pairs


def test_max_bucket_cap_drops_wide_buckets_opt_in(spark, docs):
    """lsh_candidate_pairs' skew guard is opt-in (default None keeps
    oracle-exact recall); when set, every row of an over-cap bucket is
    dropped, so pairs that only met in wide buckets disappear — and the
    capped output is always a subset of the uncapped one. Docs 0/1/4
    share every band, so their buckets are 3 wide."""
    sigs = minhash_signatures(docs, "text", "doc_id")
    lsh_uncapped = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(sigs, "doc_id").collect()
    }
    lsh_capped = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(sigs, "doc_id", max_bucket=2).collect()
    }
    assert (0, 1) in lsh_uncapped and (0, 1) not in lsh_capped
    assert lsh_capped <= lsh_uncapped


def test_simhash_pairs_rejects_indivisible_bands():
    from logstash_filter_translate_spark.operators.dedup import simhash_pairs

    with pytest.raises(ValueError):
        simhash_pairs(None, "text", "doc_id", bits=16, bands=5)


def test_ngram_jaccard_counts(spark, docs):
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "id_a long, id_b long"
    )
    out = {(r["id_a"], r["id_b"]): (r["n_intersect"], r["n_union"])
           for r in ngram_jaccard_pairs(docs, "text", "doc_id", pairs).collect()}
    assert out[(0, 1)][0] == out[(0, 1)][1]  # identical → jaccard 1
    inter, union = out[(0, 2)]
    assert 0 < inter < union  # near dup → partial overlap
    assert out[(0, 3)][0] == 0  # disjoint


def test_near_dup_pairs_keeps_exactly_four_fifths(spark):
    """The keep rule's boundary: a pair at Jaccard exactly 4/5 is a near
    duplicate, a pair at 7/9 (just below: 7 * 5 = 35 < 9 * 4 = 36) is
    not."""
    from logstash_filter_translate_spark.operators.dedup import near_dup_pairs

    a = [f"a{i}" for i in range(7)]
    b = [f"b{i}" for i in range(11)]
    docs = spark.createDataFrame(
        [
            (1, " ".join(a[:6])),  # 4 shingles
            (2, " ".join(a)),  # the same 4 plus one: 4/5
            (3, " ".join(b[:9])),  # 7 shingles
            (4, " ".join(b)),  # the same 7 plus two: 7/9
        ],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    jac = {
        (r["id_a"], r["id_b"]): (r["n_intersect"], r["n_union"])
        for r in ngram_jaccard_pairs(docs, "text", "doc_id", cand).collect()
    }
    assert jac == {(1, 2): (4, 5), (3, 4): (7, 9)}
    got = near_dup_pairs(docs, "text", "doc_id", cand).collect()
    assert [tuple(r) for r in got] == [(1, 2)]


def test_brute_force_topk_finds_self_similar_vectors(spark):
    import random

    rnd = random.Random(42)
    base = [rnd.uniform(-1, 1) for _ in range(16)]
    rows = [(0, base)]
    rows.append((1, [x + 0.01 for x in base]))  # near neighbor of 0
    for i in range(2, 30):
        rows.append((i, [rnd.uniform(-1, 1) for _ in range(16)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = brute_force_topk(emb, queries, k=3).collect()
    assert top[0]["rank"] == 1 and top[0]["vec_id"] == 1

    planes = [[(((i * 37 + p * 17) % 13) - 6) / 6.0 for i in range(16)] for p in range(2)]
    approx = lsh_topk(emb, queries, planes, k=3).collect()
    # the near-identical vector lands in the same bucket → still rank 1
    assert approx[0]["vec_id"] == 1


def test_word_shingles_and_hash32_deterministic(spark):
    df = spark.createDataFrame([("a b c d",)], "text string")
    row = df.select(
        word_shingles(tokens(F.col("text"))).alias("sh"),
        hash32(F.lit("hello")).alias("h"),
        fingerprint(F.col("text")).alias("fp"),
    ).collect()[0]
    assert row["sh"] == ["a b c", "b c d"]
    assert row["h"] == 1564557354  # int('5d41402a', 16)
    assert row["fp"] == __import__("hashlib").md5(b"a b c d").hexdigest()


def test_multimodal_feature_extraction_plumbing(spark):
    media = synthetic_media(spark, 30)
    feats = extract_image_features(media)
    rows = feats.collect()
    assert len(rows) == 30
    r = rows[0]
    assert len(r["feature"]) == 16 and all(0 <= x <= 1 for x in r["feature"])
    assert r["thumb_width"] >= 1 and r["n_bytes"] > 0
    # deterministic: rerun yields identical features
    again = {x["media_id"]: x["content_sha1"] for x in feats.collect()}
    assert again == {x["media_id"]: x["content_sha1"] for x in rows}


def test_connected_components_chain_cycle_singleton(spark):
    """Known graph: chain 1-2-3 (the shape the pairwise keep-rule
    over-deletes on), a separate cycle 10-11-12-10, an isolated edgeless
    node 20, and an edge-only node pair 30-31. Component = min reachable
    id; singletons label themselves."""
    from logstash_filter_translate_spark.operators.dedup import (
        connected_components,
    )

    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 12, 20, 30, 31)], "id long"
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10), (30, 31)],
        "id_a long, id_b long",
    )
    out = {
        r["id"]: r["component"]
        for r in connected_components(nodes, edges, id_col="id").collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20,
                   30: 30, 31: 30}


def test_connected_components_raises_past_iteration_bound(spark, monkeypatch):
    """A 6-node path needs ~5 propagation hops; a bound of 2 rounds must
    raise rather than return a silently-unmerged labeling."""
    import pytest

    from logstash_filter_translate_spark.operators import dedup
    from logstash_filter_translate_spark.operators.dedup import (
        connected_components,
    )

    nodes = spark.createDataFrame([(i,) for i in range(6)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "id_a long, id_b long"
    )
    with monkeypatch.context() as mp:
        mp.setattr(dedup, "CC_MAX_ITERATIONS", 2)
        with pytest.raises(RuntimeError, match="no fixpoint"):
            connected_components(nodes, edges, id_col="id")
    # and the bound is about diameter, not edge count: the same graph
    # converges comfortably within the default
    out = {
        r["id"]: r["component"]
        for r in connected_components(nodes, edges, id_col="id").collect()
    }
    assert set(out.values()) == {0}


def test_connected_components_no_edges_all_singletons(spark):
    """A corpus with zero duplicate pairs: the loop converges on its
    first pass (empty label state) and every node labels itself."""
    from logstash_filter_translate_spark.operators.dedup import (
        connected_components,
    )

    nodes = spark.createDataFrame([(i,) for i in range(4)], "id long")
    edges = spark.createDataFrame([], "id_a long, id_b long")
    out = {
        r["id"]: r["component"]
        for r in connected_components(nodes, edges, id_col="id").collect()
    }
    assert out == {0: 0, 1: 1, 2: 2, 3: 3}


def test_connected_components_broadcast_gate(spark):
    """The singleton-re-entry anti-join broadcast hint is SIZE-GATED on
    the measured member count — past the gate the plan must be a
    merge-hinted shuffle left-anti with NO BroadcastExchange anywhere,
    surviving AQE re-planning, and both planes must label identically."""
    from logstash_filter_translate_spark.operators.dedup import (
        connected_components,
    )

    nodes = spark.createDataFrame([(i,) for i in range(8)], "id long")
    edges = spark.createDataFrame(
        [(0, 1), (2, 3)], "id_a long, id_b long"
    )
    expect = {0: 0, 1: 0, 2: 2, 3: 2, 4: 4, 5: 5, 6: 6, 7: 7}

    hinted = connected_components(nodes, edges, id_col="id")
    assert {r["id"]: r["component"] for r in hinted.collect()} == expect
    plan_h = hinted._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan_h  # under the gate: hinted

    # the measured member count exceeds the gate
    unhinted = connected_components(
        nodes, edges, id_col="id", broadcast_member_limit=0
    )
    assert {r["id"]: r["component"] for r in unhinted.collect()} == expect
    plan_u = unhinted._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan_u
    assert "SortMergeJoin" in plan_u and "LeftAnti" in plan_u


def test_incremental_near_dup_keep_cross_and_intra(spark):
    """Incremental dedup: a new batch against a standing kept
    corpus — a new doc near-duplicating a CORPUS doc drops (corpus
    always wins, regardless of id order), a new pair duplicating each
    other drops its higher id (near_dup_keep's rule), unique docs
    survive."""
    from logstash_filter_translate_spark.operators.dedup import (
        incremental_near_dup_keep,
        minhash_signatures,
    )

    dup_text = (
        "the quick brown fox jumps over the lazy dog near the old barn"
    )
    pair_text = (
        "pack my box with five dozen liquor jugs before the market opens"
    )
    corpus = spark.createDataFrame(
        [
            (101, dup_text),
            (102, "a completely different corpus document about spark "
                  "physical plans and shuffle exchanges"),
        ],
        "doc_id long, text string",
    )
    new_docs = spark.createDataFrame(
        [
            (4, dup_text),          # near-dups corpus 101 -> drops
            (8, "a unique new document describing incremental corpus "
                "maintenance at scale"),              # survives
            (12, pair_text),        # intra pair: lower id -> kept
            (16, pair_text),        # intra pair: higher id -> drops
        ],
        "doc_id long, text string",
    )
    kept = {
        r["doc_id"]
        for r in incremental_near_dup_keep(
            corpus, new_docs, "text", "doc_id",
            minhash_signatures(corpus, "text", "doc_id"),
            minhash_signatures(new_docs, "text", "doc_id"),
        ).collect()
    }
    # doc 4 drops although corpus 101 has the HIGHER id: no id-order
    # dependence on the cross side
    assert kept == {8, 12}


def test_connected_components_adversarial_chain_escalates_to_jumping(
    spark, monkeypatch
):
    """A 200-node chain (diameter 199) is the adversarial shape for
    min-label propagation — the min moves ONE hop per round, so plain
    propagation cannot fixpoint inside a small bound (RuntimeError path
    asserted), while pointer jumping shortcuts L(v) <- L(L(v)) each round
    and converges in O(log diameter): 8 rounds measured, vs 200 for
    plain, a 5.09x wall-clock win at this diameter
    (BENCH/STRESS_CC_r8.json). The default escalation round lets the
    deep chain self-remedy inside the default budget."""
    from logstash_filter_translate_spark.operators import dedup
    from logstash_filter_translate_spark.operators.dedup import (
        _connected_components,
        connected_components,
    )

    n = 200
    nodes = spark.range(n).withColumnRenamed("id", "doc_id")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    with monkeypatch.context() as mp:
        # escalation never reached: plain propagation, diameter 199 >>
        # 10 rounds -> must raise, never return a silently-unmerged
        # labeling
        mp.setattr(dedup, "POINTER_JUMP_ESCALATION_ROUND", 10)
        mp.setattr(dedup, "CC_MAX_ITERATIONS", 10)
        with pytest.raises(RuntimeError, match="no fixpoint"):
            connected_components(nodes, edges, id_col="doc_id")
    with monkeypatch.context() as mp:
        # jumping from round 2: converges within ~log2(199)+1 rounds and
        # labels the whole chain with the min id
        mp.setattr(dedup, "POINTER_JUMP_ESCALATION_ROUND", 1)
        mp.setattr(dedup, "CC_MAX_ITERATIONS", 15)
        out, rounds = _connected_components(
            nodes, edges, "doc_id", dedup.BROADCAST_MEMBER_LIMIT
        )
        assert out.filter("component = 0").count() == n
        assert rounds <= 10
    # the default: plain through the escalation round (shallow graphs
    # never pay the jump join), then shortcutting — the deep chain
    # converges inside the default budget with no caller knowledge of
    # the graph's diameter
    out_auto, rounds = _connected_components(
        nodes, edges, "doc_id", dedup.BROADCAST_MEMBER_LIMIT
    )
    assert out_auto.filter("component = 0").count() == n
    assert dedup.POINTER_JUMP_ESCALATION_ROUND < rounds <= 18


def test_lsh_cross_candidates_broadcast_probe_and_match_self_join(spark, docs):
    """Cross-corpus LSH: splitting the corpus and probing one half
    against the other must surface exactly the self-join's cross-split
    candidate pairs (same bands, same recall), and the probe side's
    bands must be BROADCAST — the corpus side never shuffles."""
    from logstash_filter_translate_spark.operators.dedup import (
        lsh_candidate_pairs,
        lsh_candidate_pairs_cross,
        minhash_signatures,
    )

    sigs = minhash_signatures(docs, "text", "doc_id")
    half_a = sigs.filter("doc_id % 2 = 0")
    half_b = sigs.filter("doc_id % 2 = 1")
    cross = lsh_candidate_pairs_cross(half_a, half_b, "doc_id")
    got = {(r["id_a"], r["id_b"]) for r in cross.collect()}

    full = lsh_candidate_pairs(sigs, "doc_id")
    want = {
        (a, b) if a % 2 == 0 else (b, a)
        for a, b in ((r["id_a"], r["id_b"]) for r in full.collect())
        if a % 2 != b % 2
    }
    assert got == want

    # the BAND join must be the broadcast one (probe bands built small);
    # joins inside the signature subtree are free to pick their own
    # strategy from stats
    plan = cross._jdf.queryExecution().executedPlan().toString()
    # the band key is the raw minhash longs (band_k0/band_k1), not a
    # concat_ws string — same candidate pairing, narrower exchange
    band_join_lines = [
        ln for ln in plan.splitlines()
        if "Join" in ln and "band_idx" in ln and "band_k0" in ln
    ]
    assert band_join_lines, plan
    assert all("BroadcastHashJoin" in ln for ln in band_join_lines), plan


def test_boilerplate_shingles_count_distinct_docs_once(spark):
    """A shingle repeated INSIDE one document counts once (doc frequency,
    not term frequency); the min_docs filter binds."""
    from logstash_filter_translate_spark.operators.dedup import (
        boilerplate_shingles,
    )

    rows = [
        (0, "click here now click here now click here now"),  # repeats internally
        (1, "click here now something else entirely ok"),
        (2, "click here now unrelated tail words go here"),
        (3, "completely different text with no overlap at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["shingle"]: r["doc_freq"]
        for r in boilerplate_shingles(
            df, "text", "doc_id", min_docs=3
        ).collect()
    }
    # 'click here now' appears in docs 0,1,2 -> freq 3 (not 5: doc 0's
    # internal repeats collapse); nothing else reaches 3 docs
    assert out == {"click here now": 3}


def test_connected_components_edge_only_node_surfaces(spark):
    """Documented contract: an edge endpoint absent from `nodes` still
    gets a labeled row — a nodes/edges mismatch surfaces as an extra row
    instead of silently vanishing."""
    from logstash_filter_translate_spark.operators.dedup import (
        connected_components,
    )

    nodes = spark.createDataFrame([(0,), (1,)], "id long")
    edges = spark.createDataFrame([(0, 99)], "id_a long, id_b long")
    out = {
        r["id"]: r["component"]
        for r in connected_components(nodes, edges, id_col="id").collect()
    }
    assert out == {0: 0, 1: 1, 99: 0}


def test_canonical_docs_argmax_tiebreak_lowest_id(spark):
    """canonical_docs' argmax: max n_chars wins; an exact length tie
    breaks to the LOWEST doc_id (max_by over struct(n_chars, -doc_id) -
    the same pattern ivf_assign pins for centroid ties)."""
    from pyspark.sql import functions as F

    rows = [(7, 10, 100), (3, 10, 100), (9, 10, 80)]  # (doc, comp, len)
    df = spark.createDataFrame(rows, "doc_id long, component long, n_chars long")
    out = (
        df.groupBy("component")
        .agg(
            F.max_by(
                "doc_id", F.struct(F.col("n_chars"), (-F.col("doc_id")))
            ).alias("keep_id")
        )
        .collect()
    )
    assert [(r["component"], r["keep_id"]) for r in out] == [(10, 3)]


def test_lsh_cross_overlapping_sides_never_self_pair(spark, docs):
    """A doc present on BOTH sides under the same id (overlapping split)
    must not pair with itself - without the guard its Jaccard of 1.0
    would flag it as contaminating itself."""
    from logstash_filter_translate_spark.operators.dedup import (
        lsh_candidate_pairs_cross,
        minhash_signatures,
    )

    sigs = minhash_signatures(docs, "text", "doc_id")
    got = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs_cross(sigs, sigs, "doc_id").collect()
    }
    assert got  # real cross pairs survive (0<->1 are identical docs)
    assert not any(a == b for a, b in got)


def test_brute_force_topk_null_element_never_ranks(spark):
    """A NULL element poisons the fold's dot to NULL, so the vector
    scores NULL and ranks NULLS LAST, as in the SQL oracle — never
    finite and competitive."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0]),
        (2, [0.98, None, 0.0, 0.0]),  # NULL element: must never rank
        (3, [-1.0, 0.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = [
        (r["rank"], r["vec_id"])
        for r in brute_force_topk(emb, queries, k=2).collect()
    ]
    assert got == [(1, 1), (2, 3)]


def test_zero_norm_vector_scores_null_not_divide_by_zero(spark):
    """One all-zero embedding (empty-doc vector, padding row) must not
    throw DIVIDE_BY_ZERO under ANSI mode and kill the query. try_divide
    degrades it to an unranked NULL score - which is also DuckDB's x/0
    semantics, so the oracle agrees on degenerate data."""
    from logstash_filter_translate_spark.operators.dedup import (
        embedding_cosine_pairs,
    )

    rows = [(0, [1.0, 0.0]), (1, [0.5, 0.5]), (2, [0.0, 0.0]),
            (3, [-1.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = [
        (r["rank"], r["vec_id"])
        for r in brute_force_topk(emb, queries, k=2).collect()
    ]
    assert got == [(1, 1), (2, 3)]  # zero-norm never ranks

    planes = [[1.0, 0.0], [0.0, 1.0]]
    pairs = {
        (r["id_a"], r["id_b"])
        for r in embedding_cosine_pairs(emb, planes, threshold=0.0).collect()
    }
    assert not any(2 in p for p in pairs)  # NULL cos -> filtered, no throw


def test_brute_force_topk_width_mismatch_never_ranks(spark):
    """A vector wider than the query, an empty vector and a NULL vector
    score NULL (zip_with pads the shorter side with NULL), never the
    finite, perfect score a shared prefix would give; they rank NULLS
    LAST, by id, only when fewer than k candidates score."""
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [1.0, 0.0, 0.0]),   # longer: prefix would score a perfect 1.0
        (3, [-1.0, 0.0]),
        (4, []),
        (5, None),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = [
        (r["rank"], r["vec_id"])
        for r in brute_force_topk(emb, queries, k=2).collect()
    ]
    assert got == [(1, 1), (2, 3)]
    got = [
        (r["rank"], r["vec_id"])
        for r in brute_force_topk(emb, queries, k=5).collect()
    ]
    assert got == [(1, 1), (2, 3), (3, 2), (4, 4), (5, 5)]


def test_remove_frequent_segments_word_windows(spark):
    """Word-window plane: a 4-word window shared by >= min_docs docs is
    deleted from every doc, surviving windows reassemble in original
    order, and a doc that was pure boilerplate drops out."""
    from logstash_filter_translate_spark.operators.dedup import (
        remove_frequent_segments,
    )

    boiler = "accept all cookies now"
    rows = [
        (1, boiler + " unique one two three"),
        (2, boiler + " other words here too"),
        (3, "totally different content words here"),  # 5 words → 2 windows
        (4, boiler),  # pure boilerplate → drops out
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["clean_text"]
        for r in remove_frequent_segments(
            docs, "text", "doc_id", segment_words=4, min_docs=2
        ).collect()
    }
    assert out == {
        1: "unique one two three",
        2: "other words here too",
        3: "totally different content words here",
    }


def test_remove_frequent_segments_broadcasts_inventory(spark):
    """The re-entry anti-join broadcasts the frequent-segment inventory."""
    from logstash_filter_translate_spark.operators.dedup import (
        remove_frequent_segments,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i} x y z a b c d") for i in range(50)],
        "doc_id long, text string",
    )
    plan = (
        remove_frequent_segments(docs, "text", "doc_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan[:1500]


def test_remove_duplicate_spans_any_offset(spark):
    """Overlapping-gram span removal: a duplicated run is deleted at ANY
    offset (different offsets in each doc), adjacent flagged grams merge
    into one removed span, a fully-covered doc drops out, and a doc
    shorter than span_words passes through untouched."""
    from logstash_filter_translate_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    shared = "the quick brown fox jumps over"  # 6 words -> 2 merged grams
    rows = [
        (1, "alpha beta " + shared + " gamma delta"),  # run at offset 3
        (2, shared + " unique tail words here"),       # run at offset 1
        (3, "totally different content words in here now"),
        (4, shared),       # every word covered -> drops out
        (5, "tiny doc"),   # 2 words < span_words -> pass-through
        (6, ""),           # empty -> drops out
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["clean_text"]
        for r in remove_duplicate_spans(
            docs, "text", "doc_id", span_words=5, min_docs=2
        ).collect()
    }
    assert out == {
        1: "alpha beta gamma delta",
        2: "unique tail words here",
        3: "totally different content words in here now",
        5: "tiny doc",
    }


def test_remove_duplicate_spans_catches_tile_straddler(spark):
    """The case fixed tilings miss: a 4-word passage shared by two docs
    but STRADDLING the 4-word tile boundary in one of them.
    remove_frequent_segments keeps it everywhere (no tile matches);
    remove_duplicate_spans deletes it from both."""
    from logstash_filter_translate_spark.operators.dedup import (
        remove_duplicate_spans,
        remove_frequent_segments,
    )

    passage = "subscribe to our newsletter"
    rows = [
        (1, passage + " original article text one"),       # tile-aligned
        (2, "by admin " + passage + " more body text"),    # offset 3: straddles
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    seg = {
        r["doc_id"]: r["clean_text"]
        for r in remove_frequent_segments(
            docs, "text", "doc_id", segment_words=4, min_docs=2
        ).collect()
    }
    # fixed tiling: doc 2's tiles are 'by admin subscribe to' /
    # 'our newsletter more body' / 'text' -- the passage never forms a
    # tile twice, so nothing reaches min_docs and both docs are intact
    assert seg == {
        1: passage + " original article text one",
        2: "by admin " + passage + " more body text",
    }
    spans = {
        r["doc_id"]: r["clean_text"]
        for r in remove_duplicate_spans(
            docs, "text", "doc_id", span_words=4, min_docs=2
        ).collect()
    }
    assert spans == {
        1: "original article text one",
        2: "by admin more body text",
    }


def test_remove_duplicate_spans_broadcasts_inventory(spark):
    """The flagging semi-join broadcasts the duplicated-gram inventory."""
    from logstash_filter_translate_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i} x y z a b c d") for i in range(50)],
        "doc_id long, text string",
    )
    plan = (
        remove_duplicate_spans(docs, "text", "doc_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan[:1500]


def test_remove_duplicate_spans_duplicate_id_no_ansi_throw(spark):
    """Unique ids are a documented precondition, but violating it must
    degrade (like the sibling operators), never throw: a twin's flags
    left-joined onto an empty-toks row used to reach an unguarded ANSI
    sequence(1, 0) -> [1, 0] -> element_at(toks, 0) crash."""
    from logstash_filter_translate_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    rows = [(1, "a b c d e f"), (2, "a b c d e f"), (1, "")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = remove_duplicate_spans(
        docs, "text", "doc_id", span_words=5, min_docs=2
    ).collect()  # must not raise; both covered docs drop out
    assert out == []


def test_sessionize_gap_split_per_user(spark):
    """A gap over gap_minutes (30) starts a new session, per user: user 1
    at 0, 5, 15 min is one session and the event 90 min later opens the
    second; user 2's events 120 min apart are two sessions."""
    import datetime as dt

    from logstash_filter_translate_spark.operators.sessionize import (
        sessionize,
    )

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    events = [
        (1, 1, ts(0)), (2, 1, ts(5)), (3, 2, ts(0)),
        (4, 1, ts(15)), (5, 1, ts(105)), (6, 2, ts(120)),
    ]
    df = spark.createDataFrame(
        events, "event_id long, user_id long, ts timestamp"
    )
    got = {r["event_id"]: r["session_seq"] for r in sessionize(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 2, 6: 2}


def test_rolling_anomaly_spike_and_cold_start(spark):
    """Hand-built hourly series [10, 10, 10, 50] for one key: only the
    50-bucket flags (50*3*100 > 30*150); the cold-start bucket (no
    trailing history) and the second bucket (10 vs 150% of 10) never
    flag. A second key with a day-long gap shows the OBSERVED-bucket
    frame: the post-gap bucket compares against the pre-gap buckets."""
    import datetime as dt

    from logstash_filter_translate_spark.operators.sessionize import (
        rolling_anomaly,
    )

    t0 = dt.datetime(2026, 1, 1, 0, 0)
    rows = []
    for h, n in enumerate((10, 10, 10, 50)):
        rows += [("a", t0 + dt.timedelta(hours=h, minutes=m % 60))
                 for m in range(n)]
    # key b: buckets at hour 0, 1, then a 24h gap, then hour 26 with 3x
    rows += [("b", t0 + dt.timedelta(minutes=m)) for m in range(5)]
    rows += [("b", t0 + dt.timedelta(hours=1, minutes=m)) for m in range(5)]
    rows += [("b", t0 + dt.timedelta(hours=26, minutes=m)) for m in range(15)]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    out = {
        (r["event_type"], r["bucket"].hour + 24 * (r["bucket"].day - 1)):
            (r["cnt"], r["trail_cnt"], r["trail_buckets"], r["is_spike"])
        for r in rolling_anomaly(
            df, "ts", "event_type", trail=3, threshold_pct=150
        ).collect()
    }
    assert out[("a", 0)] == (10, 0, 0, False)   # cold start never flags
    assert out[("a", 1)] == (10, 10, 1, False)  # 10 !> 1.5x10
    assert out[("a", 3)] == (50, 30, 3, True)   # 50 > 1.5x10 avg
    # observed-bucket frame: hour-26 bucket trails the two PRE-GAP buckets
    assert out[("b", 26)] == (15, 10, 2, True)  # 15 > 1.5x5 avg


def test_rolling_anomaly_window_runs_over_aggregated_rows(spark):
    """Plan shape: the WindowExec sits ABOVE the (key, bucket) hash
    aggregate — the frame runs over aggregated rows, never events."""
    import datetime as dt

    from logstash_filter_translate_spark.operators.sessionize import (
        rolling_anomaly,
    )

    df = spark.createDataFrame(
        [("a", dt.datetime(2026, 1, 1, h)) for h in range(5)],
        "event_type string, ts timestamp",
    )
    plan = rolling_anomaly(
        df, "ts", "event_type"
    )._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan, plan[:1200]
    w_pos = plan.index("Window")
    agg_pos = plan.index("HashAggregate")
    assert agg_pos > w_pos, "aggregate must be BELOW (after) the window "\
        "in the plan tree string"


def test_rolling_anomaly_reserved_key_col_raises(spark):
    """A key_col named like an output column would produce an ambiguous
    frame; the guard raises a clear ValueError instead."""
    import datetime as dt

    import pytest

    from logstash_filter_translate_spark.operators.sessionize import (
        rolling_anomaly,
    )

    df = spark.createDataFrame(
        [("a", dt.datetime(2026, 1, 1, 0))], "cnt string, ts timestamp"
    )
    with pytest.raises(ValueError, match="collides"):
        rolling_anomaly(df, "ts", "cnt")


def test_langid_pivot_and_join_planes_agree_across_the_bound(spark):
    """langid_scores picks its plane by profile count: the pivoted
    aggregate up to LANGID_PIVOT_MAX_LANGS languages, the broadcast marker
    join above it. 16 and 17 profiles (the 17th never hits) must give the
    same rows as a plain-Python argmax, on both sides of the bound: one
    row per document with a marker hit, none for the others. The word
    "shared" is listed under two languages (each scores it), and ties go
    to the smaller language name."""
    from logstash_filter_translate_spark.functions.text import (
        LANGID_PIVOT_MAX_LANGS,
        langid_scores,
    )

    assert LANGID_PIVOT_MAX_LANGS == 16
    extra = {"l00": ["alpha"], "l02": ["delta"], "l03": ["shared"],
             "l05": ["beta"], "l07": ["shared"], "l09": ["gamma"]}
    profiles = [
        (f"l{i:02d}", [f"w{i:02d}"] + extra.get(f"l{i:02d}", []))
        for i in range(16)
    ]
    wide = profiles + [("l16", ["absent"])]
    texts = [
        (0, "alpha shared"),  # l00, l03, l07 one hit each → l00
        (1, "shared shared beta"),  # l03 = l07 = 2 → l03
        (2, "gamma delta"),  # l09 = l02 = 1 → l02
        (3, "nothing here"),
        (4, "w15 w15  w12"),
        (5, ""),
        (6, None),
    ]
    docs = spark.createDataFrame(texts, "doc_id int, text string")

    want = set()
    for doc_id, text in texts:
        toks = (text or "").split()
        hits, lang = min(
            (-sum(t in words for t in toks), lang) for lang, words in profiles
        )
        if hits < 0:
            want.add((doc_id, lang))
    assert want == {(0, "l00"), (1, "l03"), (2, "l02"), (4, "l15")}
    for profs in (profiles, wide):
        got = langid_scores(docs, "text", "doc_id", profs)
        assert sorted(map(tuple, got.collect())) == sorted(want), len(profs)

    def plan(profs):
        df = langid_scores(docs, "text", "doc_id", profs)
        return df._jdf.queryExecution().executedPlan().toString()

    assert "BroadcastHashJoin" not in plan(profiles)
    assert "BroadcastHashJoin" in plan(wide)
