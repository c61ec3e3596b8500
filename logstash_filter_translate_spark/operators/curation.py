"""Corpus-curation operators for large-scale training-data pipelines:
deterministic stratified sampling, per-domain frequency caps, repetition
scoring, benchmark-contamination checks, and global vocabulary top-k.

These are the selection/mixing stages that sit after dedup and quality
scoring in a web-scale (Common-Crawl-style) pipeline. Every operator is
pure DataFrame/Catalyst — no Python in the row path — and each has an
ANSI-SQL oracle twin in plans/queries.py.

Scale notes per operator live on the functions; the common theme: keep
the corpus side unshuffled (broadcast/semi-join the small side), make
per-group limits push down as WindowGroupLimit partial top-k, and use
the cross-engine `hash32` (md5-prefix) wherever a sampling decision must
be reproducible bit-for-bit across engines and reruns.
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import hash32, token_count, tokens, word_shingles

#: denominator for deterministic sampling decisions: hash32(id) % 10000
#: gives 4 decimal digits of rate resolution, stable across engines
SAMPLE_BUCKETS = 10_000


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: Dict[str, float],
    id_col: str,
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff
    ``hash32(id) % 10000 < rate[stratum] * 10000``.

    This is how a training-mix is drawn from a 100 TB corpus: a map-side
    filter (no shuffle, no RNG, no state) whose decision is a pure
    function of the row id — reruns, retries and engines agree exactly,
    and the sample composition follows the configured per-language /
    per-source mix. Unknown strata fall back to ``default_rate``.
    """
    bucket = F.pmod(hash32(F.col(id_col).cast("string")), F.lit(SAMPLE_BUCKETS))
    # round, NOT truncate: int() alone turns binary-float rates into the
    # bucket BELOW the configured one (int(0.57*10000) == 5699), silently
    # skewing the mix for 56 of the 999 three-decimal rates — violating
    # this module's own 4-digit-resolution contract.
    # Oracles render thresholds with the same rounding (queries.py).
    threshold = F.lit(int(round(default_rate * SAMPLE_BUCKETS)))
    expr = threshold
    for stratum, rate in sorted(rates.items()):
        expr = F.when(
            F.col(strata_col) == stratum,
            F.lit(int(round(rate * SAMPLE_BUCKETS))),
        ).otherwise(expr)
    return df.filter(bucket < expr)


def domain_cap(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    cap: int,
    order_col: Optional[str] = None,
) -> DataFrame:
    """Frequency capping: keep at most ``cap`` rows per domain,
    deterministically ordered (``order_col`` desc when given — e.g. a
    quality score — then ``id_col`` asc as the tiebreak).

    The ``row_number() <= cap`` shape compiles to WindowGroupLimit:
    every map task keeps only its local top-``cap`` per domain BEFORE the
    shuffle, so a hot domain (the classic crawl skew: one host with 10^9
    pages) contributes at most ``cap`` rows per input partition to the
    exchange instead of all of them.
    """
    order = (
        [F.desc(order_col), F.asc(id_col)] if order_col else [F.asc(id_col)]
    )
    w = Window.partitionBy(domain_col).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )


def repetition_ratio(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Gopher-style repetition signal: per document, the count of the most
    frequent word 3-gram and the total 3-gram count (integers, so the
    oracle compares exactly; ratio = max/total). High ratios flag
    boilerplate/spam for the quality filter.

    Plan: explode (non-distinct) shingles → two-level hash aggregate
    ((doc, shingle) counts reduced map-side, then per-doc max/sum). The
    shuffle carries (doc_id, shingle-count) pairs, never documents.
    A document with fewer than 3 tokens has no shingle and so no row.
    """
    sh = df.select(
        F.col(id_col),
        F.explode(word_shingles(tokens(F.col(text_col)))).alias("s"),
    )
    per_shingle = sh.groupBy(id_col, "s").agg(F.count("*").alias("c"))
    return per_shingle.groupBy(id_col).agg(
        F.max("c").alias("max_ngram_cnt"),
        F.sum("c").alias("total_ngrams"),
    )


def contamination_check(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Benchmark-contamination flagging: which corpus documents share at
    least one word 3-gram with any benchmark document? (The eval-set
    decontamination pass every serious training pipeline runs; real
    deployments use 13-grams.)

    Plan: the benchmark side (small by construction) explodes to distinct
    shingles and is DISTINCT'd then broadcast into a left-semi join
    against the corpus shingle explode — the corpus never shuffles, and a
    corpus document stops contributing rows after its first matching
    shingle (semi-join short-circuit). Returns (id_col) of flagged docs.
    """
    bench_sh = (
        benchmark.select(
            F.explode(
                F.array_distinct(word_shingles(tokens(F.col(text_col))))
            ).alias("s")
        )
        .distinct()
    )
    corpus_sh = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_shingles(tokens(F.col(text_col))))
        ).alias("s"),
    )
    return (
        corpus_sh.join(F.broadcast(bench_sh), "s", "left_semi")
        .select(id_col)
        .distinct()
    )


def vocab_topk(
    df: DataFrame,
    text_col: str,
    k: int,
) -> DataFrame:
    """Global vocabulary top-k: the k most frequent whitespace tokens with
    counts, deterministic ties (count desc, token asc) — the first step of
    tokenizer/vocab construction over a corpus.

    Plan: explode → hash aggregate (map-side partial combine collapses
    each partition's token counts before the shuffle, so the exchange
    carries |vocab| rows per partition, not |tokens|) → global
    ``ORDER BY cnt DESC, token LIMIT k`` which Spark executes as
    TakeOrderedAndProject: each partition keeps its local top-k, the
    driver merges k·p rows — no full sort shuffle.
    """
    tok = df.select(F.explode(tokens(F.col(text_col))).alias("token"))
    counts = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    return counts.orderBy(F.desc("cnt"), F.asc("token")).limit(k)


def token_budget_mix(
    df: DataFrame,
    strata_col: str,
    budgets: Dict[str, int],
    id_col: str,
    text_col: str,
    upsample: bool = False,
) -> DataFrame:
    """Training-mix draw to per-stratum TOKEN budgets: compute each
    stratum's total whitespace-token count, derive the keep-rate
    ``min(1, budget / total)``, and keep a row iff
    ``hash32(id) % 10000 < (budget * 10000) div max(total, 1)`` (capped
    at 10000). This is how a real mixture is specified — "20B tokens of
    code, 5B of forums" — rather than by document-count rates; a stratum
    whose budget exceeds its supply is kept whole, one absent from
    ``budgets`` gets budget 0 and is dropped.

    All threshold arithmetic is INTEGER (budget·10000 exact, bigint
    ``div`` truncation == floor for non-negative operands), so Spark and
    any ANSI-SQL oracle agree bit-for-bit — no float rate ever exists.
    Because the bucket is the same unseeded ``hash32(id)`` used by
    :func:`stratified_sample`, a smaller budget draws a strict SUBSET of
    a larger one: scaling ablations (50%-mix vs 100%-mix) nest
    reproducibly instead of resampling the corpus.

    ``upsample=True`` generalizes the draw to EPOCH REPETITION — how
    real mixes treat rare high-quality strata ("wiki ×3.5"): every doc
    gets ``budget div total`` whole copies plus one more iff
    ``hash32(id) % 10000 < ((budget mod total) * 10000) div total``, and
    the output gains a ``copy`` column (1..n). The expected stratum
    token count is the budget on the nose; a budget below supply yields
    0 whole copies and the remainder draw — exactly the downsample
    semantics above, so one operator covers the whole mix. The same
    unseeded hash means the remainder copies land on the docs a
    downsample would keep: ablation mixes still nest. (Remainder
    arithmetic stays in long range for budgets to ~10^14 tokens.)

    Plan at 100 TB: one map-side-partial aggregate reduces the corpus to
    |strata| total rows (the only shuffle, and it carries strata counts,
    not documents); that tiny frame is broadcast back and the keep
    decision is a map-side filter on the second scan — the corpus itself
    never shuffles (upsample adds a map-side explode of 1..n_copies,
    still shuffle-free). A pipeline that already materializes per-doc
    token counts passes them via ``text_col`` pointing at a precomputed
    column upstream; here we recount from text so the operator is
    standalone.
    """
    toks = token_count(F.col(text_col))
    tot = df.groupBy(strata_col).agg(F.sum(toks).alias("__tot"))
    budget = F.lit(0).cast("long")
    for stratum, b in sorted(budgets.items()):
        budget = F.when(
            F.col(strata_col) == stratum, F.lit(int(b)).cast("long")
        ).otherwise(budget)
    bucket = F.pmod(hash32(F.col(id_col).cast("string")), F.lit(SAMPLE_BUCKETS))
    joined = df.join(F.broadcast(tot), strata_col).withColumn(
        "__budget", budget
    )
    if not upsample:
        threshold = F.least(
            F.lit(SAMPLE_BUCKETS).cast("long"),
            F.expr(f"(__budget * {SAMPLE_BUCKETS}) div greatest(__tot, 1L)"),
        )
        return joined.filter(bucket < threshold).drop("__budget", "__tot")
    full = F.expr("__budget div greatest(__tot, 1L)")
    rem_thr = F.expr(
        f"((__budget % greatest(__tot, 1L)) * {SAMPLE_BUCKETS})"
        " div greatest(__tot, 1L)"
    )
    ncopies = (full + F.when(bucket < rem_thr, 1).otherwise(0)).cast("long")
    # when() guards the ANSI trap (sequence(1, 0) descends); the NULL it
    # leaves explodes to zero rows = the dropped-stratum case.
    return (
        joined.withColumn("__nc", ncopies)
        .withColumn(
            "copy",
            F.explode(
                F.when(
                    F.col("__nc") > 0,
                    F.sequence(F.lit(1).cast("long"), F.col("__nc")),
                )
            ),
        )
        .drop("__budget", "__tot", "__nc")
    )


def _seeded_order(id_col: str):
    """The (hash, within-shard order) pair that DEFINES the deterministic
    shuffle order — shared by :func:`shuffle_shards` and
    :func:`pack_sequences` so the packing can never desynchronize from
    the shuffle the writer actually emits. Callers alias the hash to
    ``__h`` and derive ``shard = pmod(__h, N)``."""
    h = hash32(F.concat(F.lit("shard|"), F.col(id_col).cast("string")))
    w = Window.partitionBy("shard").orderBy(
        F.col("__h").asc(), F.col(id_col).asc()
    )
    return h, w


def shuffle_shards(
    df: DataFrame,
    id_col: str,
    num_shards: int,
) -> DataFrame:
    """Deterministic global shuffle + shard assignment for training
    output: every row gets ``shard = hash32('shard|' || id) % num_shards``
    and ``pos`` = its rank within the shard ordered by that same hash
    (id tiebreak). Reading shards in (shard, pos) order yields a
    reproducible pseudo-random permutation of the corpus — the "global
    shuffle before training" step — as a pure function of the id:
    no RNG, no state, identical across engines, reruns and retries.

    Plan at 100 TB: one hash exchange on ``shard`` plus a per-shard sort
    (never a global sort) — exactly the shape of
    ``repartition(num_shards, shard).sortWithinPartitions(hash, id)``
    that a writer would use with ``partitionBy("shard")``; ``num_shards``
    is chosen so a shard's rows fit an executor's spill budget (e.g.
    100 TB / 4 GB-target ≈ 25k shards). The window ``row_number`` adds
    the auditable position column on the same exchange+sort, so the
    audit query and the writer share one physical plan.
    """
    h, w = _seeded_order(id_col)
    return (
        df.select(F.col(id_col), h.alias("__h"))
        .withColumn("shard", F.pmod(F.col("__h"), F.lit(num_shards)))
        .withColumn("pos", F.row_number().over(w))
        .select(id_col, "shard", "pos")
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_shards: int,
    seq_len: int,
) -> DataFrame:
    """Fixed-length sequence packing for training output — the stage
    after :func:`shuffle_shards`: stream the documents in the
    deterministic shuffle order, concatenate their tokens, and cut the
    stream into ``seq_len``-token training sequences (GPT-style
    concat-then-chunk packing). Returns ``(id, shard, seq, off)``:
    ``seq`` is the sequence index whose window contains the document's
    FIRST token and ``off`` that token's offset within it — together
    with the document's own length this fully determines its placement,
    including spills into following sequences; a writer needs nothing
    else to lay out the shard.

    Everything is a pure function of the id plus exact long
    arithmetic (a running token sum; no floats, no RNG), so any ANSI
    engine reproduces the layout bit-for-bit and a re-run after a
    failure packs identically — the resumability story for the most
    expensive write in the pipeline.

    Plan at 100 TB: one hash exchange on ``shard`` plus a per-shard
    sort — the SAME physical shape as :func:`shuffle_shards`; the
    cumulative sum rides that sort as a running window aggregate with
    bounded state (one long per partition). ``num_shards`` is the
    parallelism knob exactly as there; no global sort ever exists.
    """
    h, order = _seeded_order(id_col)
    w = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        df.select(
            F.col(id_col),
            h.alias("__h"),
            token_count(F.col(text_col)).cast("long").alias("__t"),
        )
        .withColumn("shard", F.pmod(F.col("__h"), F.lit(num_shards)))
        .withColumn("__start", F.sum("__t").over(w) - F.col("__t"))
        .select(
            id_col,
            "shard",
            F.expr(f"__start div {int(seq_len)}").alias("seq"),
            (F.col("__start") % F.lit(int(seq_len))).alias("off"),
        )
    )


def curation_pipeline(
    df: DataFrame,
    text_col: str,
    id_col: str,
    strata_col: str,
    rates: Dict[str, float],
    domain_col: str,
    cap: int,
    max_repetition_pct: int = 50,
    default_rate: float = 0.0,
) -> DataFrame:
    """Composed curation pass: repetition filter → stratified sample →
    per-domain cap, returning the kept (id, stratum, domain) set. Each
    stage is the audited scale-safe plane above; integer percent
    threshold keeps the repetition filter float-free across engines."""
    rep = repetition_ratio(df, text_col, id_col)
    keep_rep = rep.filter(
        (F.col("total_ngrams") > 0)
        & (F.col("max_ngram_cnt") * 100
           <= F.col("total_ngrams") * max_repetition_pct)
    ).select(id_col)
    base = df.join(keep_rep, id_col, "left_semi")
    sampled = stratified_sample(base, strata_col, rates, id_col, default_rate)
    capped = domain_cap(sampled, domain_col, id_col, cap)
    return capped.select(id_col, strata_col, domain_col)


def hashed_linear_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    buckets: int = 1 << 18,
    threshold_milli: int = 0,
) -> DataFrame:
    """Hashed bag-of-words linear classifier inference — the
    fastText-style learned quality filter every production curation
    pipeline runs after the heuristic scorers (CCNet / DCLM shape),
    re-expressed as pure codegen + one aggregation exchange.

    Each token hashes into one of ``buckets`` feature buckets
    (``hash32('b|'||token) % buckets`` — the hashing trick, so the model
    is fixed-dimension regardless of vocabulary); the document's score is
    the MEAN bucket weight. A bucket's weight is a pure hash function,
    ``hash32('quality|'||bucket) % 2001 - 1000`` in [-1000, 1000] milli —
    a stand-in for trained weights with the real plan shape.

    Everything stays in INTEGER milli-units (the house integers-only
    convention — canonical_docs, integer-Jaccard):
    the returned ``score_milli`` is the exact sum of per-token integer
    milli-weights and ``keep`` is the cross-multiplied threshold test
    ``score_milli >= threshold_milli * n_tokens`` — no float mean, no
    partition-order summation drift, bit-equal across engines/reruns.
    Zero-token documents have no features and drop out (a quality filter
    discards them anyway).

    Plan at 100 TB: explode tokens → codegen md5 bucket/weight →
    groupBy(id) with map-side partial aggregation — ONE exchange keyed
    on the doc id carrying two longs per doc; the corpus text never
    shuffles.
    """
    if int(buckets) < 1:
        raise ValueError("buckets must be >= 1")
    ex = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__tok")
    )
    bucket = F.pmod(
        hash32(F.concat(F.lit("b|"), F.col("__tok"))), F.lit(int(buckets))
    )
    w = F.pmod(
        hash32(F.concat(F.lit("quality|"), bucket.cast("string"))),
        F.lit(2001),
    ) - F.lit(1000)
    scored = ex.select(F.col(id_col), w.alias("__w"))
    agg = scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.sum("__w").alias("score_milli"),
    )
    keep = F.col("score_milli") >= F.lit(int(threshold_milli)) * F.col(
        "n_tokens"
    )
    return agg.select(
        F.col(id_col), "n_tokens", "score_milli", keep.alias("keep")
    )


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    chunk_tokens: int = 256,
    stride: Optional[int] = None,
    min_tokens: int = 1,
) -> DataFrame:
    """Sliding-window document chunking — the embedding/RAG prep stage:
    split every document into ``chunk_tokens``-token windows whose starts
    are ``stride`` tokens apart (``stride < chunk_tokens`` overlaps
    adjacent chunks so no span is ever cut mid-context; the default
    ``stride = chunk_tokens`` tiles). Returns one row per chunk:
    ``(id_col, chunk_id, n_tokens, chunk_text)`` with ``chunk_id`` the
    0-based window ordinal and ``chunk_text`` its tokens joined by single
    spaces — deterministic, so a rerun or a downstream
    embedding join keys on ``(id, chunk_id)`` stably. The tail window may
    be shorter than ``chunk_tokens``; windows with fewer than
    ``min_tokens`` tokens are dropped (a 1-token tail embeds nothing
    useful), as are zero-token documents.

    Plan at 100 TB: this is the cheapest shape in the module — a MAP-ONLY
    one-to-many expansion with ZERO exchanges: tokenize → posexplode the
    window starts (a ``sequence(1, n, stride)``) → codegen ``slice`` +
    ``concat_ws`` per window. No aggregation, no join; output ROWS are
    ~``input_tokens / stride`` (one per window) and output TOKEN volume
    is ~``input_tokens × chunk_tokens / stride``, so the only scale
    lever is downstream partition sizing, not this operator.
    The ANSI ``sequence`` is when()-guarded (zero-token docs would
    otherwise descend).
    """
    k = int(chunk_tokens)
    s = int(stride) if stride is not None else k
    if k < 1 or s < 1:
        raise ValueError("chunk_tokens and stride must be >= 1")
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    starts = F.when(n >= 1, F.sequence(F.lit(1), n, F.lit(s)))
    base = df.select(
        F.col(id_col), toks.alias("__toks"),
        F.posexplode_outer(starts).alias("__cid", "__start"),
    ).filter(F.col("__start").isNotNull())
    chunk = F.slice(F.col("__toks"), F.col("__start"), F.lit(k))
    out = base.select(
        F.col(id_col),
        F.col("__cid").alias("chunk_id"),
        F.size(chunk).alias("n_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )
    return out.filter(F.col("n_tokens") >= int(min_tokens))
