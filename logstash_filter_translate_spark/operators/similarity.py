"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — the query set is broadcast (it is
small by construction); each partition scores its local shard and a single
top-k-per-query aggregation follows. Scale path: LSH bucketing via random
hyperplane signs (SimHash over the embedding) so candidates shrink from
|corpus| to a bucket.

Dot products run JVM-side, no Python, as one Catalyst higher-order-function
fold (``zip_with`` + ``aggregate``): the lambdas are interpreted per
element, but the interpreter's per-node loops JIT. Do not unroll the fold
into per-element terms: a 64-term generated method exceeds HotSpot's JIT
size limit and runs slower than the fold (BENCH/MICRO_DOT_r7.json).
:func:`cosine` is the module's one scoring path.
An IVF variant replaces the hyperplane bucketer with k-means centroids;
the plumbing (bucket column → co-partitioned join) is identical.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: column names of every embedding frame: corpus and centroid rows are
#: (ID_COL, VEC_COL), query rows (QUERY_ID_COL, VEC_COL)
ID_COL = "vec_id"
VEC_COL = "embedding"
QUERY_ID_COL = "query_id"


def dot(a: Column, b: Column) -> Column:
    """Double-precision dot product as a ``zip_with`` + ``aggregate`` fold,
    summed left to right, so the result is deterministic. A NULL array
    gives NULL, and so do arrays of different widths (``zip_with`` pads
    the shorter one with NULLs, which poison the sum)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """NULL (not a throw) on a zero-norm vector: this session runs Spark
    4.1 ANSI mode, where a plain ``/`` raises DIVIDE_BY_ZERO the moment
    one all-zero embedding (empty-doc vector, padding row) appears in a
    100 TB corpus — try_divide degrades it to an unranked NULL score
    instead, which is also exactly DuckDB's x/0 semantics, so the
    oracle agrees on degenerate data (verified on both engines)."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """The one top-k tail of every scoring plane: keep the ``k`` best
    ``score`` rows per query (NULL scores last, ties to the lower id) and
    return (query_id, rank, vec_id)."""
    w = Window.partitionBy(QUERY_ID_COL).orderBy(F.desc("score"), F.asc(ID_COL))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(QUERY_ID_COL, "rank", ID_COL)
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: broadcast the query set, score every (query,
    corpus) pair locally with :func:`cosine`, keep k per query via window
    row_number.

    Returns (query_id, rank, vec_id) — IDs only, so verification is robust
    to last-ulp float differences across engines.

    Degenerate rows score NULL and rank NULLS LAST, exactly as the SQL
    oracle does: a NULL vector, an empty vector, a width mismatch with the
    query (``zip_with`` pads with NULL), a NULL element, or a zero norm.
    They appear in the output only when a query has fewer than k
    scoreable candidates.
    """
    q = queries.select(
        F.col(QUERY_ID_COL), F.col(VEC_COL).alias("__qvec")
    )
    scored = corpus.join(
        F.broadcast(q), F.col(ID_COL) != F.col(QUERY_ID_COL)
    ).select(
        QUERY_ID_COL,
        ID_COL,
        cosine(F.col(VEC_COL), F.col("__qvec")).alias("score"),
    )
    return _top_k(scored, k)


def hyperplane_bucket(vec_col: str, planes: List[List[float]]) -> Column:
    """LSH bucket id of the array column named ``vec_col``: bit ``i`` is
    set iff its dot product with ``planes[i]`` is >= 0. Deterministic:
    the planes are literals.

    The whole bucket is ONE ``F.expr`` parse of the ``dot`` fold (same
    casts, same left-to-right sum, so the values are bit-identical to
    ``dot``); ``repr(float)`` round-trips every double exactly. The name
    is backtick-quoted, so any column name resolves. Each plane must be as
    wide as the vectors: a width mismatch makes its dot NULL, which sets
    no bit."""
    col = "`" + vec_col.replace("`", "``") + "`"
    terms = []
    for i, p in enumerate(planes):
        arr = ", ".join(repr(float(x)) + "D" for x in p)
        dot_sql = (
            f"aggregate(zip_with({col}, array({arr}), "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "0.0D, (acc, v) -> acc + v)"
        )
        terms.append(f"(CASE WHEN {dot_sql} >= 0 THEN {1 << i} ELSE 0 END)")
    return F.expr("0 + " + " + ".join(terms))


def ivf_assign(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """IVF cell assignment: nearest centroid by cosine (ties → lowest
    centroid id). Both frames carry ``ID_COL`` and ``VEC_COL``. Returns
    every column of ``vectors`` plus ``cell``.
    Centroids are broadcast; the argmax is a ``max_by`` partial aggregate
    — the n×|centroids| scored expansion is reduced MAP-SIDE (partial
    HashAggregate), so the shuffle carries one row per vector instead of
    the full expansion a window row_number would shuffle.

    The other columns ride ``any_value`` aggregates on the same partial
    aggregate — ``ID_COL`` is the vector key (unique by the IVF
    contract), so each group's carried values are constant and any_value
    is exact. No consumer joins the corpus back to its cells: at scale
    that join re-scans the corpus and shuffles it by id, while carrying
    the columns costs the one corpus-keyed exchange the aggregate already
    does. Every carried column rides that exchange, so project wide
    payload columns out of ``vectors`` before assigning."""
    c = centroids.select(
        F.col(ID_COL).alias("__cid"), F.col(VEC_COL).alias("__cvec")
    )
    base_cols = list(vectors.columns)
    scored = vectors.join(F.broadcast(c)).select(
        *base_cols,
        F.col("__cid"),
        cosine(F.col(VEC_COL), F.col("__cvec")).alias("__cs"),
    )
    # argmax as max of struct(score, -cid): ties on score break to the
    # LOWEST centroid id, matching ORDER BY cs DESC, cid ASC
    cell = F.max_by(
        F.col("__cid"), F.struct(F.col("__cs"), (-F.col("__cid")).alias("__t"))
    ).alias("cell")
    carried = [
        F.any_value(F.col(col)).alias(col)
        for col in base_cols
        if col != ID_COL
    ]
    return scored.groupBy(ID_COL).agg(cell, *carried).select(
        *base_cols, "cell"
    )


def _query_cells(
    queries: DataFrame, centroids: DataFrame, nprobe: int
) -> DataFrame:
    """(query_id, __qvec, cell): each query joined to its ``nprobe``
    nearest-centroid cells — the broadcast probe side of every IVF plane.
    One row per (query, probed cell); since a corpus vector lives in
    exactly one cell, the downstream co-cell join needs no dedup.

    nprobe > 1 is the standard IVF recall lever (nearest-cell-only probing
    caps recall when a true neighbor sits across a cell boundary). The
    per-query cell ranking is a window over the QUERY side only — a tiny
    broadcast frame, so the row_number shuffle is negligible; the corpus
    side's plan is unchanged. Tie-break: score DESC, centroid id ASC
    (identical to ivf_assign's max_by struct for rank 1, so nprobe=1
    reproduces the original plane exactly)."""
    c = centroids.select(
        F.col(ID_COL).alias("__cid"), F.col(VEC_COL).alias("__cvec")
    )
    scored = queries.join(F.broadcast(c)).select(
        QUERY_ID_COL,
        F.col(VEC_COL).alias("__qvec"),
        F.col("__cid"),
        cosine(F.col(VEC_COL), F.col("__cvec")).alias("__cs"),
    )
    w = Window.partitionBy(QUERY_ID_COL).orderBy(
        F.desc("__cs"), F.asc("__cid")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= nprobe)
        .select(QUERY_ID_COL, "__qvec", F.col("__cid").alias("cell"))
    )


def _cell_scored_topk(cb: DataFrame, qb: DataFrame, k: int) -> DataFrame:
    """Shared IVF tail: co-cell broadcast join → cosine → per-query top-k."""
    scored = cb.join(F.broadcast(qb), "cell").filter(
        F.col(ID_COL) != F.col(QUERY_ID_COL)
    ).select(
        QUERY_ID_COL,
        ID_COL,
        cosine(F.col(VEC_COL), F.col("__qvec")).alias("score"),
    )
    return _top_k(scored, k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 1,
) -> DataFrame:
    """IVF approximate top-k: score only within the query's ``nprobe``
    nearest cells. Cells come from ivf_assign inline — the one-shot plane;
    at scale build the index once with write_ivf_index and query via
    ivf_topk_indexed."""
    cb = ivf_assign(corpus, centroids)
    qb = _query_cells(queries, centroids, nprobe)
    return _cell_scored_topk(cb, qb, k)


#: subdirectory inside an IVF index holding the centroids it was built
#: with. The underscore prefix makes it INVISIBLE to Spark's parquet
#: reader (the same hidden-path convention as _SUCCESS/_metadata), so
#: spark.read.parquet(index_path) still yields only corpus rows.
IVF_CENTROIDS_DIR = "_centroids"


def write_ivf_index(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
) -> None:
    """One-time IVF index build: assign every corpus vector to its nearest
    centroid and write the corpus PARTITIONED BY cell. This is the
    amortized 100 TB pass — one centroid-scoring scan + one shuffle-free
    partitioned write; every subsequent query batch reads only its probed
    cells' directories (partition pruning, asserted in tests).

    The centroids are persisted INSIDE the index (``_centroids/``,
    hidden from the corpus read) — the index is self-describing:
    cell ids are only meaningful relative to the centroid set they were
    assigned under, so an index queried or appended with a DIFFERENT
    centroid set probes the wrong cells and silently returns wrong
    neighbors. ``ivf_topk_indexed`` queries and ``append_ivf_index``
    grows the index under the stored set."""
    assigned = ivf_assign(corpus, centroids)
    assigned.write.mode("overwrite").partitionBy("cell").parquet(path)
    centroids.select(ID_COL, VEC_COL).coalesce(1).write.mode(
        "overwrite"
    ).parquet(_centroids_path(path))


def _centroids_path(index_path: str) -> str:
    import os

    return os.path.join(index_path, IVF_CENTROIDS_DIR)


def ivf_index_complete(index_path: str) -> bool:
    """True iff BOTH the corpus write and the centroid write completed.
    write_ivf_index writes the corpus (whose job drops the top-level
    _SUCCESS) FIRST and ``_centroids/`` second — the overwrite of the
    index directory would wipe a pre-written centroid set, so the order
    cannot flip. A build stopped between the two writes therefore
    leaves an index that passes a bare top-level-_SUCCESS check but
    raises from load_ivf_centroids; the centroid marker is written
    last, so THIS is the authoritative completeness signal."""
    import os

    return os.path.exists(
        os.path.join(index_path, "_SUCCESS")
    ) and os.path.exists(
        os.path.join(_centroids_path(index_path), "_SUCCESS")
    )


def load_ivf_centroids(spark, index_path: str) -> DataFrame:
    """The centroid set a materialized IVF index was built with (stored
    by write_ivf_index). Raises with a rebuild hint on an index written
    without in-index centroids, whose cell ids no stored set explains."""
    import os

    cpath = _centroids_path(index_path)
    if not os.path.exists(cpath):
        raise ValueError(
            f"IVF index at {index_path} has no stored centroids "
            f"({IVF_CENTROIDS_DIR}/ missing — not built by "
            "write_ivf_index?). Rebuild the index with write_ivf_index."
        )
    return spark.read.parquet(cpath)


def append_ivf_index(
    spark,
    new_corpus: DataFrame,
    path: str,
    id_col: str = ID_COL,
    vec_col: str = VEC_COL,
) -> None:
    """Incremental IVF maintenance: assign NEW vectors to cells under the
    index's own stored centroids and APPEND their files to the existing
    cell partitions — no rewrite of the standing index. This is the 100
    TB growth path: a daily embedding increment costs one scoring scan
    of the increment plus appended files in the touched cell
    directories, not a full-corpus rebuild. (Cell ids are only
    meaningful under the build-time centroids, which is why this reads
    the stored set rather than accepting one — a drifted centroid frame
    here would scatter new vectors into wrong cells.) Queries see the
    union immediately: partition pruning is directory-based, and
    appended files join their cell's directory. ``id_col``/``vec_col``
    name the increment's columns; they are stored as ``ID_COL`` and
    ``VEC_COL``, the names of the standing index and its centroids."""
    centroids = load_ivf_centroids(spark, path)
    renamed = new_corpus.withColumnsRenamed({id_col: ID_COL, vec_col: VEC_COL})
    assigned = ivf_assign(renamed, centroids)
    assigned.write.mode("append").partitionBy("cell").parquet(path)


def ivf_topk_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """IVF query plane over a materialized index: the corpus arrives
    already partitioned by cell, so the co-cell join prunes the scan to
    each query's nearest cell — dynamic partition pruning reuses the
    broadcast query side as the pruning subquery (no driver-side collect
    of cell ids needed).

    Queries are probed under the index's OWN stored centroid set
    (load_ivf_centroids) — the only set its cell ids are meaningful
    under; any other set would probe the wrong cells and silently return
    wrong neighbors."""
    centroids = load_ivf_centroids(spark, index_path)
    corpus = spark.read.parquet(index_path)
    qb = _query_cells(queries, centroids, 1)
    return _cell_scored_topk(corpus, qb, k)


def lsh_topk_multiband(
    corpus: DataFrame,
    queries: DataFrame,
    bands: List[List[List[float]]],
    k: int = 5,
) -> DataFrame:
    """Multi-band hyperplane LSH: a candidate qualifies if it shares a
    bucket with the query in ANY band (standard OR-of-bands recall lever —
    B independent plane-sets raise recall from p to 1-(1-p)^B while each
    band's bucket join stays narrow). Candidates are unioned and deduped
    BEFORE scoring, so each (query, candidate) cosine is computed once.

    At corpus scale the corpus is scanned ONCE: every band's bucket id is
    computed in the same projection and exploded to (id, band_idx,
    bucket) rows, then a single equi-join on (band_idx, bucket) against
    the identically-exploded query side yields the OR-of-bands candidate
    set — one scan + one narrow join instead of |bands| scans + a union
    (at a 100 TB corpus per-band rescans would be the cost)."""

    def banded(df: DataFrame, key: str) -> DataFrame:
        buckets = F.array(
            *[
                F.struct(
                    F.lit(i).alias("__band"),
                    hyperplane_bucket(VEC_COL, planes).alias("__bucket"),
                )
                for i, planes in enumerate(bands)
            ]
        )
        return df.select(
            F.col(key), F.explode(buckets).alias("b")
        ).select(key, "b.__band", "b.__bucket")

    cand = (
        banded(corpus, ID_COL)
        .join(F.broadcast(banded(queries, QUERY_ID_COL)), ["__band", "__bucket"])
        .select(QUERY_ID_COL, ID_COL)
        .distinct()
        .filter(F.col(ID_COL) != F.col(QUERY_ID_COL))
    )
    scored = (
        cand.join(corpus.select(ID_COL, VEC_COL), ID_COL)
        .join(
            F.broadcast(
                queries.select(QUERY_ID_COL, F.col(VEC_COL).alias("__qvec"))
            ),
            QUERY_ID_COL,
        )
        .select(
            QUERY_ID_COL,
            ID_COL,
            cosine(F.col(VEC_COL), F.col("__qvec")).alias("score"),
        )
    )
    return _top_k(scored, k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: List[List[float]],
    k: int = 5,
) -> DataFrame:
    """Approximate top-k: score only within the query's hyperplane bucket.

    At scale the corpus is written bucketed/partitioned by this bucket id,
    so a query touches one partition instead of the full corpus.
    """
    cb = corpus.withColumn("__bucket", hyperplane_bucket(VEC_COL, planes))
    qb = queries.select(
        F.col(QUERY_ID_COL),
        F.col(VEC_COL).alias("__qvec"),
        hyperplane_bucket(VEC_COL, planes).alias("__bucket"),
    )
    scored = cb.join(F.broadcast(qb), "__bucket").filter(
        F.col(ID_COL) != F.col(QUERY_ID_COL)
    ).select(
        QUERY_ID_COL,
        ID_COL,
        cosine(F.col(VEC_COL), F.col("__qvec")).alias("score"),
    )
    return _top_k(scored, k)
