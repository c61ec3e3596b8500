"""Deduplication operators for training-data pipelines: exact, MinHash+LSH,
SimHash, n-gram Jaccard.

Scale notes (the 100 TB story):
  - exact dedup is one hash-shuffle on the dedup key (partial agg applies);
    dedup on a fingerprint rather than raw text keeps shuffle rows narrow.
  - MinHash/LSH: signatures are one explode + map-side partial
    aggregate per document, ``NUM_HASHES`` wide; candidate generation
    shuffles only (band_idx, band_key) pairs of ``BAND_SIZE`` minhashes
    each — the classic shingle→minhash→band→bucket-join pipeline. Hot
    buckets (boilerplate pages) are the skew risk: lsh_candidate_pairs
    can cap bucket width before pairing.
  - The Jaccard keep rule (≥ ``JACCARD_KEEP_NUM``/``JACCARD_KEEP_DEN``)
    is stated once, in :func:`near_dup_pairs`; every near-dup plane
    (keep, components, fuzzy contamination, incremental) verifies
    through it.
  - SimHash: map-side expression; near-dup = Hamming distance on a 64-bit
    int, cheap to band by prefix.
  - All primitives use the md5-based portable hash so the DuckDB oracle
    verifies values exactly (functions/text.py).
  - The Jaccard verify and connected components run one plane each; their
    physical choices (singleton-anti-join broadcast, pointer jumping) are
    measured rules inside the function, not caller flags.
  - Per-document operators (MinHash, SimHash) return rows only for the
    documents they produce a value for; a caller that reports every
    document left-joins the corpus ids itself.
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.text import (
    MINHASH_COEF,
    MINHASH_P,
    fingerprint,
    hash32,
    tokens,
    word_shingles,
    word_tiles,
)

#: MinHash signature width: one hash function per coefficient pair
NUM_HASHES = len(MINHASH_COEF)
#: minhashes per LSH band (NUM_HASHES // BAND_SIZE bands; the SQL oracles
#: state the same 4 bands of 2)
BAND_SIZE = 2


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep min(id) per identical text; returns (id, dup_cnt).

    Groups by a 32-char fingerprint of the text, so the shuffle carries
    the digest instead of full documents — at 100 TB this is the
    difference between shuffling ~100 TB and ~1 TB.
    """
    return (
        df.groupBy(fingerprint(F.col(text_col)).alias("__fp"))
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("dup_cnt"),
        )
        .drop("__fp")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signatures(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, m0..m{NUM_HASHES-1}) over the word 3-grams, one row per
    document with ≥ 3 tokens; a shorter document has no shingle and so
    no row.

    Physical shape: explode shingles → ONE codegen'd md5 per shingle →
    groupBy(id) with NUM_HASHES cheap min() aggregates (map-side partial).
    This beats the pure-expression ``array_min(transform(...))`` form by
    ~10×: Catalyst higher-order-function lambdas are interpreted, and the
    signature expressions would each re-hash every shingle."""
    sh = df.select(
        F.col(id_col),
        F.explode(word_shingles(tokens(F.col(text_col)))).alias("__s"),
    )
    hashed = sh.select(id_col, hash32(F.col("__s")).alias("__h"))
    aggs = [
        F.min((F.lit(a) * F.col("__h") + F.lit(b)) % MINHASH_P).alias(f"m{i}")
        for i, (a, b) in enumerate(MINHASH_COEF)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def _cap_buckets(
    banded: DataFrame, keys: List[str], max_bucket: int
) -> DataFrame:
    """Skew guard: drop every row of a bucket wider than ``max_bucket``.

    Implemented as ``groupBy(keys).count()`` → over-cap bucket list →
    **broadcast left-anti join**, NOT ``count() OVER (PARTITION BY keys)``:
    the window form forces an exchange + SORT of the full banded frame
    just to measure bucket width, while here the only exchange carries
    map-side-combined (keys, count) rows and the anti-join build side is
    the over-cap list — near-empty by construction
    (buckets above the cap are the pathology being excised) — broadcast
    against the unsorted, unshuffled probe frame."""
    over = (
        banded.groupBy(*keys)
        .agg(F.count("*").alias("__bw"))
        .filter(F.col("__bw") > max_bucket)
        .drop("__bw")
    )
    return banded.join(F.broadcast(over), keys, "left_anti")


#: join/bucket key columns emitted by :func:`_band_signatures`
_BAND_KEY_COLS = ["band_idx"] + [f"band_k{j}" for j in range(BAND_SIZE)]


def _band_signatures(sigs: DataFrame, id_col: str) -> DataFrame:
    """(id, band_idx, band_k0..band_k{BAND_SIZE-1}) rows — the shared
    banding step of the self-join (lsh_candidate_pairs) and cross-corpus
    (lsh_candidate_pairs_cross) planes.

    The band key is the RAW minhash longs, not their ``concat_ws``
    string — two rows agree on the string key iff they agree on every
    component (the '_' separator delimits unambiguously), so the
    multi-column equi-join pairs the identical candidate set while the
    per-row string build disappears and the exchange carries fixed-width
    longs instead of decimal strings. The band key never leaves the
    operator (outputs are id pairs), so the SQL oracles' string-keyed
    CTEs state the same pairs."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                *[
                    F.col(f"m{b * BAND_SIZE + j}").alias(f"band_k{j}")
                    for j in range(BAND_SIZE)
                ],
            )
            for b in range(NUM_HASHES // BAND_SIZE)
        ]
    )
    has_sig = F.col("m0").isNotNull()
    return (
        sigs.filter(has_sig)
        .select(id_col, F.explode(bands).alias("b"))
        .select(id_col, *[f"b.{k}" for k in _BAND_KEY_COLS])
    )


def lsh_candidate_pairs(
    sigs: DataFrame, id_col: str, max_bucket: Optional[int] = None
) -> DataFrame:
    """Band the signature, bucket-join, emit distinct candidate pairs
    (id_a < id_b).

    One shuffle on (band_idx, band_key). ``max_bucket`` is the OPT-IN skew
    guard for web scale (boilerplate text makes some buckets millions wide;
    an uncapped bucket-join is quadratic): buckets wider than the cap are
    dropped entirely, trading those candidates for bounded work. Default
    None — recall is complete and value-identical to the SQL oracle at any
    scale; set it when running over a real crawl.
    """
    banded = _band_signatures(sigs, id_col)
    # materialize BEFORE the cap and the self-join: _cap_buckets references
    # the frame twice (width count + anti-join probe) and the self-join
    # twice more — without the checkpoint the whole corpus-wide
    # explode+md5+groupBy signature subtree re-executes per reference.
    # localCheckpoint, NOT persist: the block is released by the
    # ContextCleaner when the frame is GC'd, so a long-running driver
    # doesn't leak cached partitions
    banded = banded.localCheckpoint(eager=False)
    if max_bucket is not None:
        banded = _cap_buckets(
            banded, _BAND_KEY_COLS, max_bucket
        ).localCheckpoint(eager=False)
    left = banded.alias("l")
    right = banded.alias("r")
    cond = F.col(f"l.{id_col}") < F.col(f"r.{id_col}")
    for k in _BAND_KEY_COLS:
        cond = (F.col(f"l.{k}") == F.col(f"r.{k}")) & cond
    return (
        left.join(right, cond)
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def lsh_candidate_pairs_cross(
    sigs_corpus: DataFrame, sigs_probe: DataFrame, id_col: str
) -> DataFrame:
    """Cross-corpus LSH candidates: (id_a from corpus, id_b from probe)
    sharing at least one band — the fuzzy-decontamination shape (probe =
    an eval/benchmark set, corpus = training documents).

    The probe side's bands are BROADCAST: eval sets are small by
    construction, so the corpus is banded map-side and never shuffles —
    the cross-corpus analogue of contamination_check's broadcast
    semi-join, where the self-join plane must shuffle both sides. The
    corpus bands are read exactly once, so they need no checkpoint.

    Ids are assumed to share one namespace (both sides drawn from the
    same document universe — true for decontamination): a document
    present on BOTH sides under the same id is excluded from pairing
    with itself (a doc cannot contaminate itself; without the guard the
    self-pair's Jaccard of 1.0 would flag it spuriously).
    """
    cb = _band_signatures(sigs_corpus, id_col)
    pb = _band_signatures(sigs_probe, id_col)
    cond = F.col(f"l.{id_col}") != F.col(f"r.{id_col}")
    for k in _BAND_KEY_COLS:
        cond = (F.col(f"l.{k}") == F.col(f"r.{k}")) & cond
    return (
        cb.alias("l")
        .join(F.broadcast(pb.alias("r")), cond)
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 16) -> DataFrame:
    """Per-doc SimHash over token hashes: bit b is 1 iff the sum of
    (+1 / -1) votes from each token's hash bit b is positive.

    Physical shape: explode tokens → one codegen'd md5 per token → groupBy
    with ``bits`` conditional-sum aggregates (all partial map-side), then
    recombine the sign bits into one integer. A tokenless document has no
    row."""
    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__w")
    )
    hashed = tok.select(id_col, hash32(F.col("__w")).alias("__h"))
    bit_aggs = [
        F.sum(
            F.when(F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"__b{b}")
        for b in range(bits)
    ]
    votes = hashed.groupBy(id_col).agg(*bit_aggs)
    sim: Column = F.lit(0).cast("long")
    for b in range(bits):
        sim = sim + F.when(F.col(f"__b{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0)
        )
    return votes.select(F.col(id_col), sim.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 16,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs: prefix-band bucket join + popcount verify.
    Returns (id_a, id_b, hamming) with id_a < id_b and Hamming distance
    ≤ ``max_hamming``.

    Candidate generation is the pigeonhole banding standard for Hamming
    space: split the ``bits``-bit signature into ``bands`` equal chunks;
    any pair within Hamming distance < ``bands`` agrees EXACTLY on at
    least one chunk, so the equal-chunk equi-join finds every such pair —
    with the defaults (4 bands, ≤3 flipped bits) recall is exact, no
    all-pairs scan anywhere. Verification is one codegen
    ``bit_count(xor)`` per candidate.

    Plan shape mirrors lsh_candidate_pairs: signatures are map-side partial
    aggregates (see ``simhash``); the only shuffle carries (band_idx,
    band_val) pairs. Every pair is kept: a hot bucket (boilerplate pages
    collapse to one signature) costs join work, never recall. Tokenless
    docs have no signature and never pair.
    """
    if bits % bands != 0:
        raise ValueError(f"bits={bits} not divisible by bands={bands}")
    width = bits // bands
    mask = (1 << width) - 1
    # referenced by both band-join sides — materialize the signature
    # aggregate once; localCheckpoint (not persist) so blocks release
    # with the frame
    sigs = simhash(df, text_col, id_col, bits).localCheckpoint(eager=False)
    chunks = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.shiftright(F.col("simhash"), b * width)
                .bitwiseAND(F.lit(mask))
                .alias("band_val"),
            )
            for b in range(bands)
        ]
    )
    # the full signature rides the banded rows (one extra long per
    # row), so the Hamming verify is computed directly on the band-join
    # output — the old shape re-joined the deduped pair set against the
    # signature frame twice (two more joins of the candidate set) just
    # to fetch what both sides already had. The verify filter now runs
    # BEFORE the pair-dedup, so the distinct exchange carries only
    # verified pairs; (id_a, id_b, hamming) dedups identically to
    # (id_a, id_b) because hamming is a function of the pair.
    banded = sigs.select(
        id_col, "simhash", F.explode(chunks).alias("b")
    ).select(id_col, "simhash", "b.band_idx", "b.band_val")
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup (bucket-prefiltered)
# ---------------------------------------------------------------------------

def embedding_cosine_pairs(
    emb: DataFrame,
    planes: List[List[float]],
    threshold: float,
) -> DataFrame:
    """Near-duplicate (id_a, id_b) pairs by embedding cosine ≥ threshold
    over ``(vec_id, embedding)`` rows, candidate generation via
    hyperplane-LSH buckets — NOT all-pairs.

    Plan shape: one map-side bucket+norm projection, a self-join ON EQUAL
    BUCKET (hash join on the bucket key, candidates shrink from n² to
    Σ bucket²), exact-cosine verify on candidates only. Norms are computed
    once per vector before the join (not once per pair). At 100 TB the
    bucketed frame is written partitioned by bucket so the self-join is
    co-located; recall is tuned by the number of plane sets (bands).
    Every candidate is verified, so the result is value-identical to the
    SQL oracle.
    """
    from .similarity import ID_COL, VEC_COL, dot, hyperplane_bucket, norm

    b = emb.select(
        F.col(ID_COL),
        F.col(VEC_COL),
        hyperplane_bucket(VEC_COL, planes).alias("__bucket"),
        norm(F.col(VEC_COL)).alias("__norm"),
    )
    a = b.select(
        F.col(ID_COL).alias("id_a"),
        F.col(VEC_COL).alias("__ea"),
        F.col("__bucket"),
        F.col("__norm").alias("__na"),
    )
    c = b.select(
        F.col(ID_COL).alias("id_b"),
        F.col(VEC_COL).alias("__eb"),
        F.col("__bucket"),
        F.col("__norm").alias("__nb"),
    )
    pairs = a.join(c, ["__bucket"]).filter(F.col("id_b") > F.col("id_a"))
    # try_divide: a zero-norm vector yields cos=NULL (>= filter drops it)
    # instead of an ANSI DIVIDE_BY_ZERO throw — DuckDB's x/0 is also NULL,
    # so the oracle agrees
    cos = F.try_divide(
        dot(F.col("__ea"), F.col("__eb")),
        F.col("__na") * F.col("__nb"),
    )
    return pairs.filter(cos >= threshold).select("id_a", "id_b")


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------

def _candidate_shingles(
    df: DataFrame,
    text_col: str,
    id_col: str,
    pairs: DataFrame,
    prefilter: bool,
) -> DataFrame:
    """(id, s): the distinct word 3-grams of every document, semi-joined
    first down to the documents that appear in a candidate pair unless
    ``prefilter`` is off."""
    base = df
    if prefilter:
        cand_ids = (
            pairs.select(F.col("id_a").alias(id_col))
            .unionByName(pairs.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        base = df.join(cand_ids, id_col, "left_semi")
    return base.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_shingles(tokens(F.col(text_col))))
        ).alias("s"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    pairs: DataFrame,
    prefilter: bool = True,
) -> DataFrame:
    """Exact Jaccard (distinct word 3-grams) for given candidate (id_a, id_b)
    pairs; returns (id_a, id_b, n_intersect, n_union) — integers so the
    oracle compares exactly; ratio = n_intersect / n_union.

    Implementation: semi-join the corpus down to documents that appear in a
    candidate pair FIRST, explode their distinct shingles
    (:func:`_candidate_shingles`), join to the pair list, count shared
    shingles; set sizes come from a per-doc aggregate. The verify stage's
    shuffle is therefore proportional to CANDIDATE documents, not the
    corpus — at 100 TB with a tiny candidate fraction the full-corpus
    shingle explode never materializes (guarded by
    tests/test_plan_guards.py).

    ``prefilter=False`` skips the semi-join for callers that KNOW the
    candidate set already covers (nearly) every document — there the
    reduction is pure overhead (the all-adjacent-pairs audit query is
    the example); the default stays on for the real LSH-candidate shape.

    CONTRACT: every pair endpoint must have ≥1 shingle
    (≥ 3 tokens) and exist in ``df`` — true by construction
    for LSH candidates, whose members banded a non-NULL signature. A
    pair with a shingle-less or absent endpoint is DROPPED by the final
    inner size-joins, not returned with n_intersect=0; this mirrors the
    SQL oracles' ``JOIN sizes`` shape exactly (near_dup_keep,
    dedup_components, fuzzy_contamination), so changing it to a
    keep-with-zero left join would have to change every oracle in
    lockstep. Externally-supplied pairs with tiny documents must be
    pre-filtered by the caller.

    The candidate-shingle frame is referenced three times (per-doc sizes
    and both sides of the intersect join) and the sizes twice; each is
    localCheckpoint(eager=False)'d so the scan→semi-join→tokenize→explode
    subtree runs once instead of once per reference. Both stay
    candidate-bounded (the semi-join runs first), so the cached state is
    small at any corpus scale.
    """
    # pairs is referenced 2-3 times (candidate-id set, intersect join,
    # final left join) — materialize once instead of recomputing the LSH
    # subtree per reference; localCheckpoint (not persist) so the blocks
    # are GC-released with the frame
    pairs = pairs.localCheckpoint(eager=False)
    sh = _candidate_shingles(
        df, text_col, id_col, pairs, prefilter
    ).localCheckpoint(eager=False)
    sizes = (
        sh.groupBy(id_col)
        .agg(F.count("*").alias("n_sh"))
        .localCheckpoint(eager=False)
    )

    a = sh.withColumnRenamed(id_col, "id_a")
    b = sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("s", "s_b")
    inter = (
        pairs.join(a, "id_a")
        .join(
            b.select(F.col("id_b").alias("__rb"), F.col("s_b")),
            (F.col("id_b") == F.col("__rb")) & (F.col("s") == F.col("s_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_intersect"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.coalesce("n_intersect", F.lit(0)).alias("n_intersect"),
            (F.col("n_a") + F.col("n_b") - F.coalesce("n_intersect", F.lit(0))).alias(
                "n_union"
            ),
        )
    )


#: the near-duplicate keep rule: Jaccard ≥ 4/5, as integer math so both
#: engines decide every pair identically
JACCARD_KEEP_NUM = 4
JACCARD_KEEP_DEN = 5


def near_dup_pairs(
    docs: DataFrame, text_col: str, id_col: str, cand: DataFrame
) -> DataFrame:
    """The verified near-duplicate (id_a, id_b) pairs among the candidate
    pairs ``cand``: exact n-gram Jaccard (:func:`ngram_jaccard_pairs`,
    whose endpoint contract applies) of at least
    ``JACCARD_KEEP_NUM``/``JACCARD_KEEP_DEN``, decided as
    ``n_intersect * DEN >= n_union * NUM`` over a non-empty union. The
    one definition of a near duplicate: the keep, components, fuzzy
    contamination and incremental planes all verify through it."""
    jac = ngram_jaccard_pairs(docs, text_col, id_col, cand)
    return jac.filter(
        (F.col("n_union") > 0)
        & (
            F.col("n_intersect") * JACCARD_KEEP_DEN
            >= F.col("n_union") * JACCARD_KEEP_NUM
        )
    ).select("id_a", "id_b")


def incremental_near_dup_keep(
    corpus: DataFrame,
    new_docs: DataFrame,
    text_col: str,
    id_col: str,
    corpus_sigs: DataFrame,
    new_sigs: DataFrame,
) -> DataFrame:
    """Which NEW documents survive dedup against an already-kept corpus
    — the INCREMENTAL maintenance shape (the batch analog of
    append_ivf_index): a daily crawl increment is deduped against the
    standing corpus without re-deduping the corpus itself.

    Two candidate sources share one Jaccard verify:
      - cross: banded LSH with the INCREMENT's bands broadcast
        (lsh_candidate_pairs_cross) — the 100 TB corpus is banded
        map-side and never shuffles for candidate generation, same
        plane as fuzzy decontamination. Any new doc verified against a
        corpus doc is dropped (the corpus member always wins — it is
        the standing kept set).
      - intra: self-LSH within the increment; the higher id of each
        verified pair drops, identical to near_dup_keep's rule, so
        running increments forever composes with a one-shot
        near_dup_keep over the concatenation (up to that rule's
        documented chain over-deletion — use dedup_components +
        canonical_docs when exact cluster semantics matter).

    The verify's shuffle is ∝ candidate documents on BOTH sides
    (ngram_jaccard_pairs' semi-join prefilter), so corpus text is
    touched only for corpus docs that banded with a new doc.

    ``corpus_sigs`` / ``new_sigs`` are the :func:`minhash_signatures`
    of ``corpus`` and ``new_docs``, computed by the caller — at scale the
    original dedup pass persists the corpus signatures, and the
    increment then costs one signature scan of the increment plus the
    candidate-verify, never a full-corpus re-signature (a caller whose
    corpus and increment are splits of one frame signs that frame once
    and passes both filtered halves — signatures are per-document, so
    filter-then-sign and sign-then-filter agree).
    Assumes the increment ≪ corpus (its bands are broadcast); for
    increment ~ corpus, rerun the full near_dup_keep instead. Ids must
    share one namespace and be disjoint across the two frames."""
    cross = lsh_candidate_pairs_cross(corpus_sigs, new_sigs, id_col)
    intra = lsh_candidate_pairs(new_sigs, id_col)
    cand = cross.unionByName(intra).distinct()
    union_docs = corpus.select(id_col, text_col).unionByName(
        new_docs.select(id_col, text_col)
    )
    dup = (
        near_dup_pairs(union_docs, text_col, id_col, cand)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return new_docs.select(id_col).join(dup, id_col, "left_anti")


# ---------------------------------------------------------------------------
# near-dup clustering: connected components over verified duplicate pairs
# ---------------------------------------------------------------------------

#: member-set row count above which the singleton-re-entry anti-join is
#: NOT broadcast-hinted. ~10M longs is on the order of 100-200 MB as a
#: built hash relation — comfortably under executor memory, while
#: anything corpus-scale (web-crawl near-dup rates run 30-45% of docs,
#: so billions of members at 10^10 docs) forces the shuffle plane.
BROADCAST_MEMBER_LIMIT = 10_000_000

#: rounds without a fixpoint after which connected_components raises
#: rather than return silently-unmerged components
CC_MAX_ITERATIONS = 50

#: rounds after which connected_components adds pointer jumping:
#: dedup-shaped near-dup graphs fixpoint in 3-5 rounds, so a graph still
#: moving after round 8 is deep (a chain/path pathology, not a dup
#: cluster) and the O(log diameter) shortcutting takes over. Until then
#: the plan is plain propagation — shallow graphs never pay the extra
#: label self-join.
POINTER_JUMP_ESCALATION_ROUND = 8


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    broadcast_member_limit: int = BROADCAST_MEMBER_LIMIT,
) -> DataFrame:
    """(id, component) for every node, where component = the MIN node id
    reachable through the undirected ``edges`` (id_a, id_b). The proper
    group structure for near-dup dedup: pairwise keep-rules (drop the
    higher id of each pair) over-delete on chains a-b-c, while a
    component picks exactly one canonical representative per cluster.

    The output universe is ``nodes`` UNION every id appearing in an
    edge: an edge endpoint absent from ``nodes`` still gets a labeled
    row (no silent drop — for dedup graphs edges ⊆ nodes by
    construction, and a violation surfacing as an extra row beats one
    vanishing). Restrict the edge frame first if strict-``nodes``
    output is needed.

    Iterative min-label propagation, Spark-first:
      - the label state covers ONLY nodes that appear in an edge, so
        each iteration shuffles |pair nodes| longs — never corpus-wide.
        Singletons re-enter at the end via a left-anti join against the
        member set with their own id as component — zero iterations
        paid for them. Whether that anti-join broadcasts is SIZE-GATED:
        web-crawl near-dup rates run 30-45% of documents, so the member
        set is NOT reliably a small corpus fraction — at 10^10 docs it
        is billions of longs, and an unconditional broadcast OOMs every
        executor (the same untrustworthy-size-claim failure
        ExactJoin(broadcast=False) exists to prevent, lookup.py).
        It broadcasts only when the MEASURED member count (observed on
        the label-init job, no extra scan) is ≤
        ``broadcast_member_limit``; otherwise it is a merge-hinted
        shuffle left-anti join — correct at any member-set size.
      - one iteration = edge-join (shuffle on node id) + map-side
        partial-min aggregate; labels are localCheckpoint'ed each
        iteration, so lineage stays flat AND the final plan shape is
        iteration-count-independent (digest-stable across scales).
      - propagation reaches a fixpoint in <= diameter iterations;
        near-dup clusters are shallow (a dup of a dup of X is usually a
        dup of X), so 3-5 iterations is typical. Once
        ``POINTER_JUMP_ESCALATION_ROUND`` rounds have passed without a
        fixpoint — which shallow dup graphs never reach, so they run
        plain propagation only — each round adds a shortcutting step
        (L(v) <- L_prev(L(v)), Shiloach-Vishkin style, jumping through
        the previous round's CHECKPOINTED map so the fresh aggregate is
        never joined against itself): the remaining distance to the
        component min follows the 2d+1 doubling recurrence, so a deep
        pathological graph converges in O(log diameter) rounds instead
        of burning the iteration budget and raising. Shortcutting from
        round 1, a 200-node chain converged in 9 rounds / 7.4 s where
        plain propagation needed 200 rounds / 32.8 s
        (BENCH/STRESS_CC_r8c.json). The final returned plan reads the
        last label checkpoint, so it is the same however many rounds
        ran.
      - convergence costs NO extra job: the union tags self rows, so
        the min-aggregate recovers each node's previous label in the
        same pass, and the changed-count (labels that still dropped)
        rides the checkpoint's materialization as an observed metric
        (``Observation``). One shuffle + one job per iteration, total;
        never a separate new-vs-old join/count job. Only the scalar
        reaches the driver.

    Raises after ``CC_MAX_ITERATIONS`` rounds without a fixpoint rather
    than returning silently-unmerged components.
    """
    return _connected_components(nodes, edges, id_col, broadcast_member_limit)[0]


def _connected_components(
    nodes: DataFrame, edges: DataFrame, id_col: str, broadcast_member_limit: int
) -> Tuple[DataFrame, int]:
    """:func:`connected_components` and the number of rounds it took to
    reach its fixpoint."""
    sym = (
        edges.select(F.col("id_a").alias("__src"), F.col("id_b").alias("__dst"))
        .unionByName(
            edges.select(
                F.col("id_b").alias("__src"), F.col("id_a").alias("__dst")
            )
        )
        .distinct()
        # computed once, scanned every iteration. eager=False: the init
        # aggregation below materializes it inside ITS job — a separate
        # eager job boundary buys nothing (the cached RDD is the same
        # object either way, so the loop still scans the cache)
        .localCheckpoint(eager=False)
    )
    members = sym.select(F.col("__src").alias("__node")).distinct()
    # iteration 1 is folded into the label INIT. At round 1 every
    # neighbor's label is its own id, so min-label propagation over the
    # initial state is exactly groupBy(__src) → least(__src, min(__dst))
    # — one aggregation over the checkpointed edges, one job (the
    # pointer jump is skipped here because jumping through the identity
    # label map is a no-op). The changed-count AND the member count for
    # the broadcast size gate both ride this checkpoint's
    # materialization as observed metrics, so neither costs a job.
    obs = Observation()
    labels = (
        sym.groupBy("__src")
        .agg(F.min("__dst").alias("__mind"))
        .select(
            F.col("__src").alias("__node"),
            F.least(F.col("__src"), F.col("__mind")).alias("__comp"),
            F.col("__src").alias("__old"),
        )
        .observe(
            obs,
            F.sum(
                (F.col("__comp") < F.col("__old")).cast("long")
            ).alias("changed"),
            F.count(F.lit(1)).alias("members"),
        )
        .select("__node", "__comp")
        .localCheckpoint()
    )
    changed = obs.get["changed"] or 0  # sum over 0 rows is NULL
    # size-gate the singleton-re-entry broadcast on the MEASURED member
    # count (observed on the init job above — free)
    members_fit = (obs.get["members"] or 0) <= broadcast_member_limit
    iteration = 1
    while changed:
        iteration += 1
        if iteration > CC_MAX_ITERATIONS:
            raise RuntimeError(
                f"connected_components: no fixpoint in {CC_MAX_ITERATIONS} "
                "iterations (component diameter exceeds the bound)"
            )
        neigh = sym.join(
            labels.withColumnRenamed("__node", "__dst"), "__dst"
        ).select(
            F.col("__src").alias("__node"),
            "__comp",
            F.lit(False).alias("__self"),
        )
        new_labels = (
            labels.select(
                "__node", "__comp", F.lit(True).alias("__self")
            )
            .unionByName(neigh)
            .groupBy("__node")
            .agg(
                F.min("__comp").alias("__comp"),
                # every node appears exactly once as its own self row,
                # so the same pass recovers the PREVIOUS label — the
                # convergence check needs no join back to the old state
                # (no second shuffle of the checkpointed sides, no second
                # job per iteration)
                F.min(
                    F.when(F.col("__self"), F.col("__comp"))
                ).alias("__old"),
            )
        )
        if iteration > POINTER_JUMP_ESCALATION_ROUND:
            # shortcutting: L(v) <- L_prev(L(v)). The parent map is the
            # PREVIOUS round's checkpointed labels, not this round's
            # aggregate — joining the un-materialized aggregate against
            # itself would re-execute the reduce-side aggregation for
            # both join inputs. The doubling recurrence
            # is unchanged: the hop covers d+1, the jump through the
            # previous map another d, so distance-to-min goes to 2d+1
            # per round. Every label value is a member node and labels
            # covers all member nodes, so the join is total; L_prev(w)
            # <= w keeps the step monotone non-increasing, and any
            # combined fixpoint is also a propagation fixpoint, so the
            # converged labels are the same component minima.
            parent = labels.select(
                F.col("__node").alias("__comp"),
                F.col("__comp").alias("__jump"),
            )
            new_labels = new_labels.join(parent, "__comp").select(
                "__node", F.col("__jump").alias("__comp"), "__old"
            )
        # the changed-count rides the checkpoint's own materialization
        # job as an observed metric — one job per iteration total; the
        # projection drops __old so the checkpointed state (and the
        # digest-pinned final plan) stays (__node, __comp)
        obs = Observation()
        new_labels = (
            new_labels.observe(
                obs,
                F.sum(
                    (F.col("__comp") < F.col("__old")).cast("long")
                ).alias("changed"),
            )
            .select("__node", "__comp")
            .localCheckpoint()
        )
        changed = obs.get["changed"] or 0  # sum over 0 rows is NULL
        labels = new_labels
    # singleton re-entry: anti-join the corpus against the member set.
    # Broadcast-hinted only when the gate above said the measured member
    # count fits (checkpointed RDD stats are unknown to
    # AQE, so when hinted it must be explicit); past the gate the plain
    # shuffle left-anti is the correct plane at any size.
    member_dim = members.withColumnRenamed("__node", id_col)
    if members_fit:
        member_dim = F.broadcast(member_dim)
    else:
        # merge-hinted like the engine's other beyond-broadcast plane
        # (translate_with_table(broadcast=False)): the sort-merge
        # left-anti survives AQE re-planning, so the no-broadcast
        # guarantee holds deterministically at every scale instead of
        # depending on runtime stats
        member_dim = member_dim.hint("merge")
    singles = nodes.select(id_col).join(
        member_dim,
        id_col,
        "left_anti",
    ).select(F.col(id_col), F.col(id_col).alias("component"))
    out = labels.select(
        F.col("__node").alias(id_col), F.col("__comp").alias("component")
    ).unionByName(singles)
    return out, iteration


# ---------------------------------------------------------------------------
# boilerplate shingle inventory
# ---------------------------------------------------------------------------

def boilerplate_shingles(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_docs: int = 5,
) -> DataFrame:
    """(shingle, doc_freq) for word 3-grams appearing in at least
    ``min_docs`` DISTINCT documents — the boilerplate inventory (nav
    chrome, footers, cookie banners) that produces the hot LSH buckets
    the one ``max_bucket`` cap, on :func:`lsh_candidate_pairs`, guards
    against; measuring it directly is how a deployment picks that cap.

    One shuffle, keyed on the shingle: per-document distinct shingles
    explode map-side (array_distinct before the explode, so a shingle
    repeated inside one document counts once), then COUNT(*) partial-
    aggregates map-side — the exchange carries (shingle, partial count)
    rows, never the corpus. The HAVING-style filter lands after the
    final aggregate; at web scale the survivors are by definition few.
    """
    sh = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_shingles(tokens(F.col(text_col))))
        ).alias("shingle"),
    )
    return (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("doc_freq"))
        .filter(F.col("doc_freq") >= min_docs)
    )


# ---------------------------------------------------------------------------
# frequent-segment removal (the APPLY step of the boilerplate inventory)
# ---------------------------------------------------------------------------

def remove_frequent_segments(
    df: DataFrame,
    text_col: str,
    id_col: str,
    segment_words: int = 4,
    min_docs: int = 2,
) -> DataFrame:
    """CCNet-style frequent-segment REMOVAL: delete every segment whose
    document frequency reaches ``min_docs`` (nav chrome, footers, cookie
    banners — the boilerplate that :func:`boilerplate_shingles` merely
    inventories) and reassemble each document from its surviving
    segments, space-joined in original order. Returns
    ``(id_col, clean_text)``; documents whose every segment was
    boilerplate drop out entirely (they carried no unique content).

    Segments are consecutive non-overlapping ``segment_words``-word
    windows of the tokens.

    Plan at 100 TB (mirrors the reference pipeline's enrich-then-route
    shape, translate.rb:84-118, but corpus-directed):
      - document frequency mirrors :func:`boilerplate_shingles`:
        ``array_distinct`` of the per-doc segment array BEFORE the
        explode (a repeat inside one doc counts once), then COUNT(*)
        with map-side partial aggregation — the inventory pays ONE
        exchange carrying (segment, partial count), never (segment,
        doc_id) pairs and never the corpus. Exact text keying keeps
        the DuckDB oracle bit-exact; a 10^10-doc deployment keys the
        exchange on a 64-bit fingerprint instead, accepting CCNet's
        collision-removal semantics — a one-line swap;
      - segmentation is pure codegen, with no interpreted HOF:
        ``word_tiles``, one ``regexp_extract_all`` over the space-joined
        tokens;
      - survivors of the ``HAVING doc_freq >= min_docs`` filter are few
        relative to the corpus by the same argument as
        :func:`boilerplate_shingles`, so the re-entry anti-join
        broadcasts them;
      - reassembly is one exchange keyed on the doc id; the per-doc
        ``array_sort``/``transform`` runs on a handful of elements per
        row, not the corpus stream.
    """
    seg_array = word_tiles(tokens(F.col(text_col)), int(segment_words))
    base = df.select(F.col(id_col), seg_array.alias("__segs"))
    # _outer generates + cheap null filters: a plain explode makes
    # Catalyst push a `size(..)>0 AND isnotnull(..)` predicate into the
    # scan that re-evaluates the whole segment-array expression per row.
    seg = base.select(
        F.col(id_col), F.posexplode_outer("__segs").alias("__i", "segment")
    ).filter(F.col("segment").isNotNull())
    frequent = (
        base.select(
            F.explode_outer(F.array_distinct("__segs")).alias("segment")
        )
        .filter(F.col("segment").isNotNull())
        .groupBy("segment")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") >= int(min_docs))
        .select("segment")
    )
    kept = seg.join(F.broadcast(frequent), "segment", "left_anti")
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col("__i").alias("i"),
                                F.col("segment").alias("s")))
    )
    return kept.groupBy(id_col).agg(
        F.concat_ws(" ", F.transform(ordered, lambda x: x["s"]))
        .alias("clean_text")
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    span_words: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring duplicate-SPAN removal (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): every
    word covered by an OVERLAPPING ``span_words``-gram that occurs in at
    least ``min_docs`` distinct documents is deleted, and each document
    reassembles from its surviving words, space-joined in original order.
    Returns ``(id_col, clean_text)``; documents whose every word sat inside a
    duplicated span drop out, as do empty documents.

    This is the sliding-window complement of
    :func:`remove_frequent_segments`: segments are fixed tilings
    (non-overlapping word windows) so a shared passage that
    straddles a tile boundary survives; overlapping grams catch a
    duplicated run at ANY offset, and adjacent flagged grams merge into
    one removed span for free because removal is per covered WORD. The
    suffix-array formulation in the paper is a single-machine algorithm;
    the gram-inventory formulation below is its shuffle-native
    re-expression (recall is exact for duplicated runs of length >=
    span_words; runs shorter than span_words are below the dedup
    threshold by definition). ``id_col`` must be unique — like the
    sibling segment/shingle operators — or a twin row's flagged
    positions land on the wrong row through the re-entry join.

    Plan at 100 TB:
      - the inventory mirrors :func:`boilerplate_shingles` /
        :func:`remove_frequent_segments`: ``array_distinct`` of the
        per-doc gram array BEFORE the explode (a within-doc repeat counts
        once toward doc frequency), then COUNT(*) with map-side partial
        aggregation — ONE exchange carrying (gram, partial count), never
        (gram, doc_id) pairs. Exact text keying keeps the DuckDB oracle
        bit-exact; a 10^10-doc deployment keys the exchange on a 64-bit
        fingerprint instead (collision-removal semantics, one-line swap);
      - duplicated-gram survivors of ``HAVING doc_freq >= min_docs`` are
        broadcast into the flagging semi-join;
      - flagged start positions aggregate per doc (one exchange keyed on
        the doc id, carrying only the few flagged ints per doc) and
        LEFT-join back to the corpus; AQE broadcasts the flag side when
        measured-small. Clean documents — the vast majority — take the
        null branch: one codegen ``concat_ws`` over their tokens, no
        per-word coverage test, no second pass;
      - flagged documents rebuild with a per-row coverage filter
        (``filter(positions, j -> !exists(flags, p -> p<=j<p+k))``) —
        interpreted HOF cost proportional to (doc words x flagged spans)
        for the flagged MINORITY only, never the corpus stream.

    Grams are ``word_shingles`` of the tokens (one codegen
    ``regexp_extract_all``), so a gram's array position is its start
    word's 0-based index.
    """
    k = int(span_words)
    if k < 1:
        raise ValueError("span_words must be >= 1")
    toks = tokens(F.col(text_col))
    base = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        word_shingles(toks, k).alias("__grams"),
    )
    duplicated = (
        base.select(
            F.explode_outer(F.array_distinct("__grams")).alias("__gram")
        )
        .filter(F.col("__gram").isNotNull())
        .groupBy("__gram")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") >= int(min_docs))
        .select("__gram")
    )
    gram_pos = base.select(
        F.col(id_col), F.posexplode_outer("__grams").alias("__p0", "__gram")
    ).filter(F.col("__gram").isNotNull())
    flagged = gram_pos.join(F.broadcast(duplicated), "__gram", "semi")
    flags = flagged.groupBy(id_col).agg(
        F.collect_list(F.col("__p0") + F.lit(1)).alias("__flags")
    )
    joined = base.join(flags, id_col, "left")
    fl = F.col("__flags")
    # the when(>=1) guard matters even though a FLAGGED doc always has
    # >= k tokens under unique ids: with duplicate ids a twin's flags
    # left-join onto an empty-toks row, and an unguarded ANSI
    # sequence(1, 0) descends to [1, 0] -> element_at index 0 throws
    n_toks = F.size("__toks")
    kept_positions = F.filter(
        F.when(n_toks >= 1, F.sequence(F.lit(1), n_toks)).otherwise(
            F.expr("array()").cast("array<int>")
        ),
        lambda j: ~F.exists(fl, lambda p: (p <= j) & (j < p + F.lit(k))),
    )
    clean = F.when(
        fl.isNull(), F.concat_ws(" ", "__toks")
    ).otherwise(
        F.concat_ws(
            " ",
            F.transform(kept_positions, lambda j: F.element_at("__toks", j)),
        )
    )
    return joined.select(F.col(id_col), clean.alias("clean_text")).filter(
        F.col("clean_text") != ""
    )
