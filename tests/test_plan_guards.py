"""Physical-plan regression guards: the properties that make the engine
scale-safe, asserted on the executed plans so a future edit can't silently
reintroduce a scale-killer shape (docs/PLANS.md is the narrative
companion).
"""

from pyspark.sql import functions as F

from logstash_filter_translate_spark.config import TranslateConfig
from logstash_filter_translate_spark.operators.translate import Translate
from tests.conftest import exact_plane


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dedup_embedding_cosine_has_no_cartesian(spark, testdata_dir):
    from logstash_filter_translate_spark.plans.queries import (
        q_dedup_embedding_cosine,
    )

    p = plan_of(q_dedup_embedding_cosine(spark, testdata_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_similarity_ivf_argmax_is_partial_aggregate(spark, testdata_dir):
    from logstash_filter_translate_spark.plans.queries import q_similarity_ivf

    p = plan_of(q_similarity_ivf(spark, testdata_dir))
    # the CORPUS-side cell argmax must be a max_by partial agg, not a
    # Window over the n×|centroids| scored expansion, which would shuffle
    # and sort the whole scored corpus.
    # Windows are allowed only on the QUERY side — every one must partition
    # by query_id (the tiny broadcast frame: the final per-query top-k and,
    # since nprobe landed, the per-query cell ranking); a window keyed on
    # the corpus id would mean the scored expansion is being shuffled.
    assert "partial_max_by" in p
    row_number_windows = [
        line for line in p.splitlines()
        if line.strip().startswith(("Window ", "+- Window "))
        or "- Window [" in line
    ]
    assert 1 <= len(row_number_windows) <= 2, row_number_windows
    for w in row_number_windows:
        assert "query_id" in w, w  # query-side only, never the corpus


def test_bucket_cap_is_agg_anti_join_not_window_sort(spark, monkeypatch):
    """lsh_candidate_pairs' max_bucket skew guard (``_cap_buckets``) must
    plan as groupBy().count() + BROADCAST LEFT-ANTI join of the (tiny)
    over-cap bucket list — never count() OVER a Window, which exchanges
    AND SORTS the full banded frame just to measure bucket width. The
    capped frame is checkpointed before the self-join, so its plan is
    read where lsh_candidate_pairs builds it."""
    rows = [(i, "the quick brown fox jumps over the lazy dog") for i in range(6)]
    rows += [(10, "completely different text about spark pipelines")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    from logstash_filter_translate_spark.operators import dedup

    built = []

    def recording_cap(banded, keys, max_bucket):
        capped = cap(banded, keys, max_bucket)
        built.append((banded, capped))
        return capped

    cap = dedup._cap_buckets
    monkeypatch.setattr(dedup, "_cap_buckets", recording_cap)

    def sorts(plan):
        return sum(
            1
            for ln in plan.splitlines()
            if ln.strip().lstrip("+-: ").startswith("Sort ")
        )

    sigs = dedup.minhash_signatures(docs, "text", "doc_id")
    dedup.lsh_candidate_pairs(sigs, "doc_id", max_bucket=3)
    (banded, capped), = built
    p, p0 = plan_of(capped), plan_of(banded)
    assert "Window" not in p
    # the anti-join build side (over-cap bucket list) is broadcast
    assert any("BroadcastHashJoin" in ln and "LeftAnti" in ln
               for ln in p.splitlines()), p
    # the cap adds ZERO sorts to the banded frame it filters (a Window
    # form would add an exchange+sort of the full banded frame)
    assert sorts(p) == sorts(p0), p


def test_explode_plane_with_natural_key_has_no_synthetic_id(spark):
    df = spark.createDataFrame([(1, ["w1"])], "id int, words array<string>")
    with exact_plane("join"):
        op = Translate(
            TranslateConfig(
                source="words", iterate_on="words", target="t",
                dictionary=[(f"w{i}", f"W{i}") for i in range(600)],
            ),
            spark=spark,
        )
    p = plan_of(op.apply(df, iterate_key="id"))
    assert "monotonically_increasing_id" not in p
    assert "BroadcastHashJoin" in p  # the dictionary side stays broadcast


def test_exact_map_literal_plane_has_no_join(spark):
    df = spark.createDataFrame([("a",)], "k string")
    op = Translate(
        TranslateConfig(source="k", dictionary={"a": "A"}), spark=spark
    )
    p = plan_of(op.apply(df))
    assert "Join" not in p  # plan-literal map probe: pure projection


def test_exact_broadcast_plane_probe_side_not_shuffled(spark, testdata_dir):
    df = spark.read.parquet(f"{testdata_dir}/events.parquet")
    with exact_plane("join"):
        op = Translate(
            TranslateConfig(
                source="event_type", target="t",
                dictionary=[(str(i), str(i)) for i in range(600)],
            ),
            spark=spark,
        )
    p = plan_of(op.apply(df))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    # the only Exchange is the dictionary broadcast — the probe (100 TB)
    # side must not hash-shuffle
    assert "Exchange hashpartitioning" not in p


def test_pipeline_parse_enrich_is_single_stage_no_python(spark):
    from logstash_filter_translate_spark.plans import pipeline as P
    from logstash_filter_translate_spark.plans.pages import generate_pages

    pages = generate_pages(spark, 10)
    enriched = P.enrich_stage(P.parse_stage(pages), spark)
    p = plan_of(enriched)
    assert "Exchange" not in p  # zero shuffles until the aggregates
    assert "Python" not in p  # no row-at-a-time or Arrow UDF in the default path


def test_jaccard_verify_prefilters_shingle_explode(spark, testdata_dir):
    # the Jaccard verify stage must explode shingles only for documents
    # that appear in a candidate pair — the corpus is semi-joined against
    # the pair-id set BEFORE the explode, so the verify shuffle is
    # proportional to candidates, not the corpus. (jaccard_adjacent opts
    # out: its candidate set IS the corpus, making the reduction pure
    # overhead — the operator default stays on.) ngram_jaccard_pairs
    # checkpoints the candidate-shingle frame, which hides the semi-join
    # behind a Scan ExistingRDD in its final plan, so the guard plans the
    # helper that builds that frame.
    from logstash_filter_translate_spark.operators.dedup import (
        _candidate_shingles,
    )

    docs = spark.read.parquet(f"{testdata_dir}/documents.parquet")
    pairs = docs.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 1).alias("id_b"),
    ).limit(10)
    p = plan_of(
        _candidate_shingles(docs, "text", "doc_id", pairs, prefilter=True)
    )
    assert "LeftSemi" in p and "Generate" in p


def test_all_contract_queries_have_no_scale_killers(spark, testdata_dir):
    """Blanket net over EVERY contract query's physical plan: no
    CartesianProduct, no BroadcastNestedLoopJoin, and no row-at-a-time
    Python UDF (BatchEvalPython — the non-Arrow plane; ArrowEvalPython /
    MapInPandas are the sanctioned Python paths). A future edit that
    silently reintroduces any of these scale-killer shapes fails
    here."""
    from logstash_filter_translate_spark.plans.queries import (
        ALL_QUERIES,
        RUN_AT_BUILD,
    )

    # BroadcastNestedLoopJoin is allowed ONLY where the expansion is the
    # algorithm itself and the build side is a broadcast small frame:
    #   - brute-force top-k scores every (corpus, query) pair BY DESIGN
    #     (the exact baseline; queries are broadcast-small),
    #   - IVF cell assignment expands corpus × centroids BY DESIGN
    #     (centroids are broadcast-small).
    # Everywhere else a BNLJ means an accidental non-equi join — forbidden.
    bnlj_by_design = {"similarity_topk", "similarity_ivf",
                      "similarity_ivf_probe2", "similarity_ivf_indexed"}
    offenders = {}
    for name, fn in ALL_QUERIES.items():
        if name in RUN_AT_BUILD:
            continue
        plan = plan_of(fn(spark, testdata_dir))
        markers = ["CartesianProduct", "BatchEvalPython"]
        if name not in bnlj_by_design:
            markers.append("BroadcastNestedLoopJoin")
        bad = [m for m in markers if m in plan]
        if bad:
            offenders[name] = bad
    assert not offenders, offenders
