"""Dot-product plane microbenchmark (round-6 judge item #3).

This host interprets Catalyst higher-order-function lambdas instead of
codegenning them (CLAUDE.md quirks; operators/translate.py grew
struct-free fast paths for the same reason), and ``dot()``/``cosine()``
(operators/similarity.py) are ``aggregate(zip_with(...))`` — so every
similarity / embedding-dedup query pays per-element interpreted eval in
its hottest expression. This tool measures the JVM-side planes on the
same synthetic corpus x query-set cosine scoring job:

  hof       aggregate(zip_with(...)) fold — the shipped plane.
  explode   posexplode both sides -> codegen multiply -> partial-agg
            sum by (id, query). Codegen end-to-end but pays a per-element
            row expansion and a (id,query)-keyed aggregate; summation
            order is partition-dependent (NOT oracle-safe for float
            hashes — ID-only outputs would be needed).

The full-query pass times brute_force_topk's fold and explode planes on
the real embeddings table: the evidence for BRUTE_FORCE_AUTO_CROSSOVER.

Usage: python tools/microbench_dot.py [corpus_rows] [n_queries] [cpus]
Prints one JSON line; bench.py does NOT ingest this artifact (the
MICRO_r*.json glob expects the exact-match schema) — results are
recorded in BENCH/MICRO_DOT_<tag>.json and docs/ROUND7.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DIM = 64
REPS = 5


def _vec(seed_col, dim: int):
    """Deterministic pseudo-random float vector from an id column —
    codegen murmur hash per element, no RNG, no Python."""
    from pyspark.sql import functions as F

    return F.array(
        *[
            (
                (F.hash(seed_col, F.lit(i)) % 1000).cast("double") / 500.0
                - 1.0
            ).cast("float")
            for i in range(dim)
        ]
    )


def _frames(spark, corpus_rows: int, n_queries: int, cpus: int):
    from pyspark.sql import functions as F

    corpus = spark.range(0, corpus_rows, 1, max(cpus * 4, 16)).select(
        F.col("id").alias("vec_id"), _vec(F.col("id"), DIM).alias("emb")
    )
    queries = spark.range(0, n_queries, 1, 1).select(
        (F.col("id") + 1_000_000).alias("query_id"),
        _vec(F.col("id") + 1_000_000, DIM).alias("qvec"),
    )
    return corpus, queries


def plane_hof(corpus, queries):
    from pyspark.sql import functions as F

    from logstash_filter_translate_spark.operators.similarity import cosine

    return corpus.join(F.broadcast(queries)).select(
        "vec_id", "query_id", cosine(F.col("emb"), F.col("qvec")).alias("score")
    )


def plane_explode(corpus, queries):
    from pyspark.sql import functions as F

    qe = queries.select(
        "query_id", F.posexplode("qvec").alias("pos", "qv")
    ).withColumn("qv", F.col("qv").cast("double"))
    ce = corpus.select(
        "vec_id", F.posexplode("emb").alias("pos", "cv")
    ).withColumn("cv", F.col("cv").cast("double"))
    scored = (
        ce.join(F.broadcast(qe), "pos")
        .groupBy("vec_id", "query_id")
        .agg(
            F.sum(F.col("cv") * F.col("qv")).alias("d"),
            F.sum(F.col("cv") * F.col("cv")).alias("na"),
        )
    )
    # query norms are tiny (one per query): computed once, broadcast back
    from logstash_filter_translate_spark.operators.similarity import norm

    qn = queries.select("query_id", norm(F.col("qvec")).alias("nb"))
    return scored.join(F.broadcast(qn), "query_id").select(
        "vec_id",
        "query_id",
        (F.col("d") / (F.sqrt("na") * F.col("nb"))).alias("score"),
    )


def plane_baseline(corpus, queries):
    """No scoring — the scan+join+write floor every plane pays."""
    from pyspark.sql import functions as F

    return corpus.join(F.broadcast(queries)).select(
        "vec_id", "query_id", F.lit(0.0).alias("score")
    )


PLANES = {
    "baseline": plane_baseline,
    "hof": plane_hof,
    "explode": plane_explode,
}


def _child(plane_name: str, corpus_rows: int, n_queries: int,
           cpus: int) -> None:
    """One subprocess = one plane measurement (CLAUDE.md invariant: the
    JVM persists across SparkSession stop/create in-process, so in-JVM
    plane ordering poisons the comparison — the first draft of this tool
    measured exactly that artifact: whichever plane ran LAST won)."""
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "16g")

    from logstash_filter_translate_spark.session import build_session

    spark = build_session(
        app_name=f"micro-dot-{plane_name}",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
    )
    corpus, queries = _frames(spark, corpus_rows, n_queries, cpus)
    # materialize the corpus so reps measure SCORING, not the synthetic
    # vector generation (64 hash calls/row would otherwise recompute
    # inside every timed rep and mask the plane contrast)
    corpus = corpus.localCheckpoint()
    queries = queries.localCheckpoint()
    out = PLANES[plane_name](corpus, queries)
    out.write.format("noop").mode("overwrite").save()  # warm (incl. compile)
    times = []
    for _ in range(REPS):
        t0 = time.monotonic()
        out.write.format("noop").mode("overwrite").save()
        times.append(round(time.monotonic() - t0, 3))
    spark.stop()
    print("CHILD_RESULT " + json.dumps(times), flush=True)


def _child_topk(plane_name: str, sf_dir: str, cpus: int) -> None:
    """One subprocess = one FULL-QUERY measurement: brute_force_topk on
    the real embeddings table (the similarity_topk contract shape — 3
    queries, k=5), fold vs explode. Added r8 (judge item #2) to settle
    the sf0.1 fold-vs-explode question with the paired protocol instead
    of cross-window headline comparisons."""
    from pyspark.sql import functions as F

    from logstash_filter_translate_spark.operators.similarity import (
        brute_force_topk,
    )
    from logstash_filter_translate_spark.session import build_session

    spark = build_session(
        app_name=f"micro-topk-{plane_name}",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
    )
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    emb = emb.localCheckpoint()  # reps measure the query, not the scan
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = brute_force_topk(emb, queries, k=5, plane=plane_name)
    out.write.format("noop").mode("overwrite").save()  # warm
    times = []
    for _ in range(REPS):
        t0 = time.monotonic()
        out.write.format("noop").mode("overwrite").save()
        times.append(round(time.monotonic() - t0, 3))
    spark.stop()
    print("CHILD_RESULT " + json.dumps(times), flush=True)


def _equivalence_gate(corpus_rows: int, n_queries: int, cpus: int) -> None:
    """explode must be approx-equal to hof (partition-order sums)."""
    from pyspark.sql import functions as F

    from logstash_filter_translate_spark.session import build_session

    spark = build_session(
        app_name="micro-dot-equiv", master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
    )
    corpus, queries = _frames(spark, min(corpus_rows, 2000), n_queries, cpus)
    corpus = corpus.localCheckpoint()
    queries = queries.localCheckpoint()
    hof_s = plane_hof(corpus, queries)
    exp_s = plane_explode(corpus, queries).withColumnRenamed("score", "s2")
    drift = (
        hof_s.join(exp_s, ["vec_id", "query_id"])
        .select(F.max(F.abs(F.col("score") - F.col("s2"))).alias("m"))
        .first()["m"]
    )
    assert drift < 1e-12, f"explode drifted {drift}"
    spark.stop()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "child":
        _child(sys.argv[2], int(sys.argv[3]), int(sys.argv[4]),
               int(sys.argv[5]))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "child-topk":
        _child_topk(sys.argv[2], sys.argv[3], int(sys.argv[4]))
        return
    corpus_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    n_queries = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    cpus = int(sys.argv[3]) if len(sys.argv) > 3 else 16

    import subprocess

    _equivalence_gate(corpus_rows, n_queries, cpus)

    results = {}
    for name in PLANES:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "child", name,
             str(corpus_rows), str(n_queries), str(cpus)],
            capture_output=True, text=True,
        )
        times = None
        for line in proc.stdout.splitlines():
            if line.startswith("CHILD_RESULT "):
                times = json.loads(line.split(" ", 1)[1])
        assert times, proc.stderr[-2000:]
        med = sorted(times)[len(times) // 2]
        results[name] = {
            "sec_median": med,
            "sec_reps": times,
            "pairs_per_sec": round(corpus_rows * n_queries / med, 1),
        }

    # full-query fold-vs-explode at the benched scale (sf0.1's real
    # embeddings table), paired subprocess protocol — settles the sf0.1
    # plane cost question the r7 headline windows could only hint at
    topk = {}
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if os.path.exists(os.path.join(sf_dir, "embeddings.parquet")):
        for name in ("fold", "explode"):
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "child-topk",
                 name, sf_dir, str(cpus)],
                capture_output=True, text=True,
            )
            times = None
            for line in proc.stdout.splitlines():
                if line.startswith("CHILD_RESULT "):
                    times = json.loads(line.split(" ", 1)[1])
            assert times, proc.stderr[-2000:]
            topk[name] = {
                "sec_median": sorted(times)[len(times) // 2],
                "sec_reps": times,
            }
        topk["explode_over_fold_cost_ratio"] = round(
            topk["explode"]["sec_median"] / topk["fold"]["sec_median"], 3
        )

    payload = {
        "metric": "cosine_plane_microbench",
        "corpus_rows": corpus_rows,
        "n_queries": n_queries,
        "dim": DIM,
        "cpus": cpus,
        "planes": results,
        "topk_full_query": {"sf_dir": sf_dir, **topk} if topk else None,
        "speedup_explode_over_hof": round(
            results["hof"]["sec_median"] / results["explode"]["sec_median"], 3
        ),
    }
    tag = os.environ.get("SPARK_GRAFT_ROUND_TAG", "r8")
    bench_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH",
    )
    # no-clobber convention (CLAUDE.md: same-tag collisions auto-suffix
    # like the bench artifacts): a re-measure in the same round must not
    # overwrite the recorded evidence earlier conclusions cite
    out_path = None
    for s in [""] + list("bcdefghijklmnopqrstuvwxyz"):
        cand = os.path.join(bench_dir, f"MICRO_DOT_{tag}{s}.json")
        if not os.path.exists(cand):
            out_path = cand
            break
    if out_path is None:
        out_path = os.path.join(bench_dir, f"MICRO_DOT_{tag}_overflow.json")
    with open(out_path, "w") as fh:
        json.dump(payload, fh, indent=1)
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
