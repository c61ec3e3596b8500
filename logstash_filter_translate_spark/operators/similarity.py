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

from typing import List, Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


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
    oracle agrees on degenerate data (code-review r7, verified both
    engines)."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
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
        F.col(query_id_col), F.col(vec_col).alias("__qvec")
    )
    scored = corpus.join(
        F.broadcast(q), F.col(id_col) != F.col(query_id_col)
    ).select(
        query_id_col,
        id_col,
        cosine(F.col(vec_col), F.col("__qvec")).alias("score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col)
    )


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


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF cell assignment: nearest centroid by cosine (ties → lowest
    centroid id). Returns every column of ``vectors`` plus ``cell``.
    Centroids are broadcast; the argmax is a ``max_by`` partial aggregate
    — the n×|centroids| scored expansion is reduced MAP-SIDE (partial
    HashAggregate), so the shuffle carries one row per vector instead of
    the full expansion a window row_number would shuffle.

    The other columns ride ``any_value`` aggregates on the same partial
    aggregate — ``id_col`` is the vector key (unique by the IVF
    contract), so each group's carried values are constant and any_value
    is exact. No consumer joins the corpus back to its cells: at scale
    that join re-scans the corpus and shuffles it by id, while carrying
    the columns costs the one corpus-keyed exchange the aggregate already
    does. Every carried column rides that exchange, so project wide
    payload columns out of ``vectors`` before assigning."""
    c = centroids.select(
        F.col(id_col).alias("__cid"), F.col(vec_col).alias("__cvec")
    )
    base_cols = list(vectors.columns)
    scored = vectors.join(F.broadcast(c)).select(
        *base_cols,
        F.col("__cid"),
        cosine(F.col(vec_col), F.col("__cvec")).alias("__cs"),
    )
    # argmax as max of struct(score, -cid): ties on score break to the
    # LOWEST centroid id, matching ORDER BY cs DESC, cid ASC
    cell = F.max_by(
        F.col("__cid"), F.struct(F.col("__cs"), (-F.col("__cid")).alias("__t"))
    ).alias("cell")
    carried = [
        F.any_value(F.col(col)).alias(col)
        for col in base_cols
        if col != id_col
    ]
    return scored.groupBy(id_col).agg(cell, *carried).select(
        *base_cols, "cell"
    )


def _query_cells(
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    nprobe: int = 1,
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
        F.col(id_col).alias("__cid"), F.col(vec_col).alias("__cvec")
    )
    scored = queries.join(F.broadcast(c)).select(
        query_id_col,
        F.col(vec_col).alias("__qvec"),
        F.col("__cid"),
        cosine(F.col(vec_col), F.col("__cvec")).alias("__cs"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("__cs"), F.asc("__cid")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= nprobe)
        .select(query_id_col, "__qvec", F.col("__cid").alias("cell"))
    )


def _cell_scored_topk(
    cb: DataFrame,
    qb: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    k: int,
) -> DataFrame:
    """Shared IVF tail: co-cell broadcast join → cosine → per-query top-k."""
    scored = cb.join(F.broadcast(qb), "cell").filter(
        F.col(id_col) != F.col(query_id_col)
    ).select(
        query_id_col,
        id_col,
        cosine(F.col(vec_col), F.col("__qvec")).alias("score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    nprobe: int = 1,
) -> DataFrame:
    """IVF approximate top-k: score only within the query's ``nprobe``
    nearest cells. Cells come from ivf_assign inline — the one-shot plane;
    at scale build the index once with write_ivf_index and query via
    ivf_topk_indexed."""
    cb = ivf_assign(corpus, centroids, id_col, vec_col)
    qb = _query_cells(queries, centroids, id_col, vec_col, query_id_col, nprobe)
    return _cell_scored_topk(cb, qb, id_col, vec_col, query_id_col, k)


#: subdirectory inside an IVF index holding the centroids it was built
#: with. The underscore prefix makes it INVISIBLE to Spark's parquet
#: reader (the same hidden-path convention as _SUCCESS/_metadata), so
#: spark.read.parquet(index_path) still yields only corpus rows.
IVF_CENTROIDS_DIR = "_centroids"

#: bump when the on-disk index layout changes (r8: centroids stored
#: in-index). Cache keys that fingerprint only the SOURCE data must
#: include this, or a pre-upgrade cached index gets served to
#: post-upgrade code (q_similarity_ivf_indexed does).
IVF_INDEX_FORMAT_VERSION = 2


def write_ivf_index(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """One-time IVF index build: assign every corpus vector to its nearest
    centroid and write the corpus PARTITIONED BY cell. This is the
    amortized 100 TB pass — one centroid-scoring scan + one shuffle-free
    partitioned write; every subsequent query batch reads only its probed
    cells' directories (partition pruning, asserted in tests).

    The centroids are persisted INSIDE the index (``_centroids/``,
    hidden from the corpus read) — the index is self-describing (r8):
    cell ids are only meaningful relative to the centroid set they were
    assigned under, so an index queried or appended with a DIFFERENT
    centroid set probes the wrong cells and silently returns wrong
    neighbors. Query with ``ivf_topk_indexed(..., centroids=None)`` and
    grow with ``append_ivf_index`` — both read the stored set."""
    assigned = ivf_assign(corpus, centroids, id_col, vec_col)
    assigned.write.mode("overwrite").partitionBy("cell").parquet(path)
    centroids.select(id_col, vec_col).coalesce(1).write.mode(
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
    cannot flip. A kill between the two writes therefore leaves an
    index that passes a bare top-level-_SUCCESS check but raises from
    load_ivf_centroids (code-review r8); the centroid marker is written
    last, so THIS is the authoritative completeness signal."""
    import os

    return os.path.exists(
        os.path.join(index_path, "_SUCCESS")
    ) and os.path.exists(
        os.path.join(_centroids_path(index_path), "_SUCCESS")
    )


def install_ivf_index(
    corpus: DataFrame,
    centroids: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    wait_s: float = 120.0,
) -> str:
    """Crash-safe, concurrency-safe build-and-install of an IVF index at
    a SHARED path. Returns the path to SERVE FROM — normally
    ``index_path``, but a complete pid-scoped build directory when the
    shared path could not be (re)claimed, so a caller holding a complete
    index never fails or discards it.

    Protocol (absorbed three rounds of review findings as a query-local
    special case; extracted r8 so every write_ivf_index caller gets it):
      - build under a pid-scoped sibling, then one atomic os.rename in —
        concurrent first-builds can't tear each other's files.
      - if the rename loses (path occupied): complete index there → use
        it; incomplete (a crashed build) → replace it under an
        ``flock``-held lock file. flock is KERNEL-owned: it vanishes
        with the holder on any death including SIGKILL, so there is no
        orphaned-lock wedge, no staleness heuristic, and no
        unlink-a-fresh-lock identity race (the failure classes of the
        two O_EXCL designs that preceded this, code-review r8).
      - the replace itself renames the stale dir ASIDE before renaming
        ours in — the shared path is never observable half-deleted.
      - a waiter polls completeness/acquisition up to ``wait_s``; if the
        shared path never completes (live holder stuck, or pathological
        races), it serves from its OWN complete build and leaves the
        build directory in place.
    """
    import fcntl
    import os
    import shutil
    import time

    def _complete() -> bool:
        return ivf_index_complete(index_path)

    build_path = f"{index_path}.build{os.getpid()}"
    write_ivf_index(corpus, centroids, build_path, id_col, vec_col)
    try:
        os.rename(build_path, index_path)
        return index_path
    except OSError:
        pass
    if _complete():
        shutil.rmtree(build_path, ignore_errors=True)
        return index_path
    lock = index_path + ".replacelock"
    deadline = time.monotonic() + wait_s
    fd = os.open(lock, os.O_CREAT | os.O_WRONLY, 0o644)
    try:
        while time.monotonic() < deadline:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except OSError:
                # a LIVE process holds the replace lock (a dead one
                # cannot — flock dies with its holder). Let it finish.
                if _complete():
                    shutil.rmtree(build_path, ignore_errors=True)
                    return index_path
                time.sleep(0.1)
                continue
            try:
                if not _complete():
                    tomb = f"{index_path}.stale{os.getpid()}"
                    try:
                        os.rename(index_path, tomb)
                    except OSError:
                        pass  # vanished — another winner replaced it
                    else:
                        shutil.rmtree(tomb, ignore_errors=True)
                    try:
                        os.rename(build_path, index_path)
                    except OSError:
                        pass  # lost a sub-lock race; fall through
                if _complete():
                    shutil.rmtree(build_path, ignore_errors=True)
                    return index_path
                # shared path unusable even under the lock — serve our
                # own complete build rather than failing
                return build_path
            finally:
                fcntl.flock(fd, fcntl.LOCK_UN)
        # wait exhausted with a live holder that never completed: serve
        # from our own complete build; never delete it
        return build_path
    finally:
        os.close(fd)


def load_ivf_centroids(spark, index_path: str) -> DataFrame:
    """The centroid set a materialized IVF index was built with (stored
    by write_ivf_index). Raises with a rebuild hint on a pre-r8 index
    that predates in-index centroids."""
    import os

    cpath = _centroids_path(index_path)
    if not os.path.exists(cpath):
        raise ValueError(
            f"IVF index at {index_path} has no stored centroids "
            f"({IVF_CENTROIDS_DIR}/ missing — built by a pre-r8 "
            "write_ivf_index?). Rebuild the index, or pass the exact "
            "build-time centroid frame explicitly."
        )
    return spark.read.parquet(cpath)


def append_ivf_index(
    spark,
    new_corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
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
    appended files join their cell's directory."""
    centroids = load_ivf_centroids(spark, path)
    assigned = ivf_assign(new_corpus, centroids, id_col, vec_col)
    assigned.write.mode("append").partitionBy("cell").parquet(path)


def ivf_topk_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: Optional[DataFrame] = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    nprobe: int = 1,
) -> DataFrame:
    """IVF query plane over a materialized index: the corpus arrives
    already partitioned by cell, so the co-cell join prunes the scan to
    the ``nprobe`` probed cells per query — dynamic partition pruning
    reuses the broadcast query side as the pruning subquery (no
    driver-side collect of cell ids needed).

    ``centroids=None`` (default, r8) probes under the index's OWN stored
    centroid set (load_ivf_centroids) — the only set its cell ids are
    meaningful under. Passing a frame explicitly is the escape hatch for
    pre-r8 indexes; a mismatched set probes the wrong cells and silently
    returns wrong neighbors, which is exactly the hazard the stored set
    removes."""
    if centroids is None:
        centroids = load_ivf_centroids(spark, index_path)
    corpus = spark.read.parquet(index_path)
    qb = _query_cells(queries, centroids, id_col, vec_col, query_id_col, nprobe)
    return _cell_scored_topk(corpus, qb, id_col, vec_col, query_id_col, k)


def lsh_topk_multiband(
    corpus: DataFrame,
    queries: DataFrame,
    bands: List[List[List[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
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
    (r3 plan fix; at a 100 TB corpus the per-band rescans were the cost)."""

    def banded(df: DataFrame, key: str) -> DataFrame:
        buckets = F.array(
            *[
                F.struct(
                    F.lit(i).alias("__band"),
                    hyperplane_bucket(vec_col, planes).alias("__bucket"),
                )
                for i, planes in enumerate(bands)
            ]
        )
        return df.select(
            F.col(key), F.explode(buckets).alias("b")
        ).select(key, "b.__band", "b.__bucket")

    cand = (
        banded(corpus, id_col)
        .join(F.broadcast(banded(queries, query_id_col)), ["__band", "__bucket"])
        .select(query_id_col, id_col)
        .distinct()
        .filter(F.col(id_col) != F.col(query_id_col))
    )
    scored = (
        cand.join(corpus.select(id_col, vec_col), id_col)
        .join(
            F.broadcast(
                queries.select(query_id_col, F.col(vec_col).alias("__qvec"))
            ),
            query_id_col,
        )
        .select(
            query_id_col,
            id_col,
            cosine(F.col(vec_col), F.col("__qvec")).alias("score"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col)
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: List[List[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
) -> DataFrame:
    """Approximate top-k: score only within the query's hyperplane bucket.

    At scale the corpus is written bucketed/partitioned by this bucket id,
    so a query touches one partition instead of the full corpus.
    """
    cb = corpus.withColumn("__bucket", hyperplane_bucket(vec_col, planes))
    qb = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        hyperplane_bucket(vec_col, planes).alias("__bucket"),
    )
    scored = cb.join(F.broadcast(qb), "__bucket").filter(
        F.col(id_col) != F.col(query_id_col)
    ).select(
        query_id_col,
        id_col,
        cosine(F.col(vec_col), F.col("__qvec")).alias("score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col)
    )
