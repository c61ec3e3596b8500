"""Driver-contract queries: every implemented operator exercised over the
driver's testdata tables, each paired with an ANSI-SQL oracle that DuckDB
runs on the same parquet (SURVEY.md §5; FIXTURES.md §4).

Dictionaries are shared constants: the Spark side consumes them through the
Translate operator, the oracle side embeds them as VALUES CTEs — both
engines compute the same joins, so row counts, schemas and value hashes
must agree exactly.
"""

from __future__ import annotations

import hashlib
import os

from typing import Callable, Dict, Tuple

from pyspark import SparkFiles
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import TranslateConfig
from ..functions.text import (
    MINHASH_COEF,
    MINHASH_P,
    langid_scores,
    quality_score,
    tokens,
)
from ..operators.dedup import (
    JACCARD_KEEP_DEN,
    JACCARD_KEEP_NUM,
    boilerplate_shingles,
    connected_components,
    exact_dedup,
    incremental_near_dup_keep,
    lsh_candidate_pairs,
    lsh_candidate_pairs_cross,
    minhash_signatures,
    near_dup_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from ..operators.similarity import brute_force_topk, lsh_topk
from ..operators.translate import Translate

# ---------------------------------------------------------------------------
# shared dictionary constants (Spark + oracle)
# ---------------------------------------------------------------------------

EVENTS_DICT = [
    ("click", "Click Event"),
    ("error", "Error Event"),
    ("view", "Page View"),
    ("purchase", "Purchase"),
    # 'signup' intentionally missing → fallback route
]
EVENTS_FALLBACK = "other"

LANG_DICT = [
    ("en", "English"),
    ("de", "German"),
    ("fr", "French"),
    ("es", "Spanish"),
]
LANG_FALLBACK = "Other"

REGEX_DICT = [
    ("^c", "C-class"),
    ("r$", "ends-r"),
    ("^(view|signup)$", "exact-vs"),
]
REGEX_FALLBACK = "none"

UNION_DICT = [("merge", "MERGED"), ("batch", "BATCHED")]

WORD_DICT = [("table", "TBL"), ("row", "RW"), ("scan", "SCN"), ("value", "VAL")]
WORD_FALLBACK = "?"

STATUS_LIST = ["200", "301", "404", "500", "999"]
STATUS_DICT = [
    ("200", "OK"),
    ("301", "Moved"),
    ("404", "Not Found"),
    ("500", "Server Error"),
]
STATUS_FALLBACK = "unknown-status"

LANGID_PROFILES = [
    ("opsish", ["merge", "batch", "scan"]),
    ("perfish", ["slow", "fast", "hash"]),
    ("sqlish", ["table", "row", "value"]),
]

SIMHASH_BITS = 16
LSH_PLANES = [
    [(((i * 37 + p * 17) % 13) - 6) / 6.0 for i in range(64)] for p in range(3)
]


def _values_cte(name: str, pairs) -> str:
    rows = ", ".join(f"('{k}', '{v}')" for k, v in pairs)
    return f"{name}(k, v) AS (VALUES {rows})"


def _load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Testdata tables arrive as single parquet files (one scan split);
    repartition to the session parallelism so per-row compute stages use all
    cores — at real scale the Iceberg/parquet layout provides the splits and
    this becomes a no-op choice."""
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    return df.repartition(spark.sparkContext.defaultParallelism)


def _every_doc(docs: DataFrame, rows: DataFrame, **fill) -> DataFrame:
    """Per-document operator ``rows`` left-joined onto every doc_id of
    ``docs``: the operators return rows only for the documents they
    produce a value for, and an oracle that lists every document states
    the rest as NULL, or as ``fill``'s value for each named column."""
    out = docs.select("doc_id").join(rows, "doc_id", "left")
    if not fill:
        return out
    return out.select(
        "doc_id", *[F.coalesce(c, F.lit(v)).alias(c) for c, v in fill.items()]
    )


def _scratch_dir(tag: str, sf_dir: str) -> str:
    """Per-(query, input) scratch dir for the queries that write files:
    the two streaming queries and the indexed IVF query. It sits under
    ``SparkFiles.getRootDirectory()``, the driver temp dir Spark creates
    for each SparkContext and deletes at ``spark.stop()``, so it lives
    exactly as long as the session: two sessions never share one, and
    nothing in it outlives its session. It is NOT wiped between calls: a
    streaming call takes a fresh subdirectory of it, the IVF query keeps
    its index at a fixed child."""
    suffix = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(SparkFiles.getRootDirectory(), f"lfts_{tag}_{suffix}")
    os.makedirs(path, exist_ok=True)
    return path


# ---------------------------------------------------------------------------
# O1/O4/O8/O9: exact + fallback + route over events
# ---------------------------------------------------------------------------

def q_exact_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _load(spark, sf_dir, "events")
    op = Translate(
        TranslateConfig(
            source="event_type",
            target="translation",
            dictionary=EVENTS_DICT,
            fallback=EVENTS_FALLBACK,
        ),
        spark=spark,
    )
    return op.apply(df).select("event_id", "event_type", "translation", "route")


SQL_EXACT_EVENTS = f"""
WITH {_values_cte('dict', EVENTS_DICT)}
SELECT e.event_id, e.event_type,
       COALESCE(d.v, '{EVENTS_FALLBACK}') AS translation,
       CASE WHEN d.k IS NOT NULL THEN 'matched' ELSE 'fallback' END AS route
FROM events e LEFT JOIN dict d ON e.event_type = d.k
"""


# O8 sprintf time refs: dated fallback — ``%{+YYYY.MM.dd}`` formats the
# event-time column (Event#sprintf's Joda grammar; the reference uses it
# routinely for dated index/fallback names). Compiles to date_format over
# ts, pure codegen; the field splice and time ref compose in one template.
def q_fallback_dated(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _load(spark, sf_dir, "events")
    op = Translate(
        TranslateConfig(
            source="event_type",
            target="translation",
            dictionary=EVENTS_DICT,
            fallback="miss-%{event_type}-%{+YYYY.MM.dd}",
            ts_field="ts",
        ),
        spark=spark,
    )
    return op.apply(df).select("event_id", "event_type", "translation", "route")


SQL_FALLBACK_DATED = f"""
WITH {_values_cte('dict', EVENTS_DICT)}
SELECT e.event_id, e.event_type,
       COALESCE(d.v, 'miss-' || e.event_type || '-'
                     || strftime(e.ts, '%Y.%m.%d')) AS translation,
       CASE WHEN d.k IS NOT NULL THEN 'matched' ELSE 'fallback' END AS route
FROM events e LEFT JOIN dict d ON e.event_type = d.k
"""


def q_fallback_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly-rotation fallback ``wk-%{+xxxx.ww}`` — the Logstash
    index-name idiom (Joda x = ISO weekyear, w = weekofyear). Spark >= 3
    BANS week-based format letters in date_format, so these tokens
    compile to extraction expressions (functions/templates.py); this row
    proves the executed values against DuckDB's
    isoyear/weekofyear."""
    df = _load(spark, sf_dir, "events")
    op = Translate(
        TranslateConfig(
            source="event_type",
            target="translation",
            dictionary=EVENTS_DICT,
            fallback="wk-%{+xxxx.ww}",
            ts_field="ts",
        ),
        spark=spark,
    )
    return op.apply(df).select("event_id", "event_type", "translation", "route")


SQL_FALLBACK_WEEKLY = f"""
WITH {_values_cte('dict', EVENTS_DICT)}
SELECT e.event_id, e.event_type,
       COALESCE(d.v, 'wk-' || lpad(isoyear(e.ts)::VARCHAR, 4, '0') || '.'
                     || lpad(weekofyear(e.ts)::VARCHAR, 2, '0')) AS translation,
       CASE WHEN d.k IS NOT NULL THEN 'matched' ELSE 'fallback' END AS route
FROM events e LEFT JOIN dict d ON e.event_type = d.k
"""


# O9 + aggregates: per-route/per-translation histogram
def q_route_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        q_exact_events(spark, sf_dir)
        .groupBy("route", "translation")
        .agg(F.count("*").alias("cnt"))
    )


SQL_ROUTE_HISTOGRAM = f"""
WITH {_values_cte('dict', EVENTS_DICT)},
t AS (
  SELECT COALESCE(d.v, '{EVENTS_FALLBACK}') AS translation,
         CASE WHEN d.k IS NOT NULL THEN 'matched' ELSE 'fallback' END AS route
  FROM events e LEFT JOIN dict d ON e.event_type = d.k
)
SELECT route, translation, COUNT(*) AS cnt FROM t GROUP BY route, translation
"""


# O1 over documents.lang (per-lang routing)
def q_exact_docs_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _load(spark, sf_dir, "documents")
    op = Translate(
        TranslateConfig(
            source="lang",
            target="lang_name",
            dictionary=LANG_DICT,
            fallback=LANG_FALLBACK,
        ),
        spark=spark,
    )
    return op.apply(df).select("doc_id", "lang", "lang_name", "route")


SQL_EXACT_DOCS_LANG = f"""
WITH {_values_cte('dict', LANG_DICT)}
SELECT c.doc_id, c.lang,
       COALESCE(d.v, '{LANG_FALLBACK}') AS lang_name,
       CASE WHEN d.k IS NOT NULL THEN 'matched' ELSE 'fallback' END AS route
FROM documents c LEFT JOIN dict d ON c.lang = d.k
"""


# O7: override gate — pre-existing target column survives
def q_override_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _load(spark, sf_dir, "events").withColumn(
        "translation",
        F.when(F.col("event_id") % 7 == 0, F.lit("preset")),
    )
    op = Translate(
        TranslateConfig(
            source="event_type",
            target="translation",
            dictionary=EVENTS_DICT,
            fallback=EVENTS_FALLBACK,
            override=False,
        ),
        spark=spark,
    )
    return op.apply(df).select("event_id", "translation", "route")


SQL_OVERRIDE_GATE = f"""
WITH {_values_cte('dict', EVENTS_DICT)}
SELECT e.event_id,
       CASE WHEN e.event_id % 7 = 0 THEN 'preset'
            ELSE COALESCE(d.v, '{EVENTS_FALLBACK}') END AS translation,
       CASE WHEN e.event_id % 7 = 0 THEN 'skipped'
            WHEN d.k IS NOT NULL THEN 'matched'
            ELSE 'fallback' END AS route
FROM events e LEFT JOIN dict d ON e.event_type = d.k
"""


# ---------------------------------------------------------------------------
# O2: ordered first-match regex
# ---------------------------------------------------------------------------

def q_regex_firstmatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _load(spark, sf_dir, "events")
    op = Translate(
        TranslateConfig(
            source="event_type",
            target="translation",
            dictionary=REGEX_DICT,
            exact=True,
            regex=True,
            fallback=REGEX_FALLBACK,
        ),
        spark=spark,
    )
    return op.apply(df).select("event_id", "event_type", "translation", "route")


def _sql_regex_case(value_expr: str) -> str:
    whens = "\n".join(
        f"  WHEN regexp_matches({value_expr}, '{pat}') THEN '{val}'"
        for pat, val in REGEX_DICT
    )
    return f"CASE\n{whens}\n  ELSE '{REGEX_FALLBACK}' END"


SQL_REGEX_FIRSTMATCH = f"""
SELECT event_id, event_type,
       {_sql_regex_case('event_type')} AS translation,
       CASE WHEN {_sql_regex_case('event_type')} <> '{REGEX_FALLBACK}'
            THEN 'matched' ELSE 'fallback' END AS route
FROM events
"""


# ---------------------------------------------------------------------------
# O10: error containment (translate.rb:266-270, translate_spec.rb:724-749)
# ---------------------------------------------------------------------------

# dictionary chosen so every route is nonzero over the events table:
# click/error → matched, view/signup → fallback, purchase → injected fault
ERROR_DICT = [("^c", "C-class"), ("r$", "ends-r")]
ERROR_FALLBACK = "no-match"
ERROR_FAULT_PATTERN = "^pu"


def q_error_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O10: a lookup that raises mid-row must not kill the job — the row
    routes to 'failed' and passes through UNENRICHED (no fallback applied;
    translate.rb:266-270 rescues, tags, continues). The reference's own
    spec exercises this with a mocked raising updater
    (translate_spec.rb:738-742); the engine analogue is the documented
    deterministic fault injector in RegexFirstMatch, which raises INSIDE
    the guarded per-row UDF path for keys matching the pattern — the
    contained error then drives route='failed' through the real operator
    logic, oracle-checked here."""
    from ..operators.lookup import RegexFirstMatch

    df = _load(spark, sf_dir, "events")
    op = Translate(
        TranslateConfig(
            source="event_type",
            target="translation",
            dictionary=ERROR_DICT,
            exact=True,
            regex=True,
            fallback=ERROR_FALLBACK,
        ),
        spark=spark,
    )
    op.strategy = RegexFirstMatch(
        ERROR_DICT, fault_pattern=ERROR_FAULT_PATTERN
    )
    return op.apply(df).select("event_id", "event_type", "translation", "route")


SQL_ERROR_CONTAINMENT = f"""
SELECT event_id, event_type,
       CASE WHEN regexp_matches(event_type, '{ERROR_FAULT_PATTERN}') THEN NULL
            WHEN regexp_matches(event_type, '^c') THEN 'C-class'
            WHEN regexp_matches(event_type, 'r$') THEN 'ends-r'
            ELSE '{ERROR_FALLBACK}' END AS translation,
       CASE WHEN regexp_matches(event_type, '{ERROR_FAULT_PATTERN}') THEN 'failed'
            WHEN regexp_matches(event_type, '^c')
              OR regexp_matches(event_type, 'r$') THEN 'matched'
            ELSE 'fallback' END AS route
FROM events
"""


# ---------------------------------------------------------------------------
# O3: union-regex substitution
# ---------------------------------------------------------------------------

def q_union_substitute(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _load(spark, sf_dir, "documents")
    op = Translate(
        TranslateConfig(
            source="text", target="translated", dictionary=UNION_DICT, exact=False
        ),
        spark=spark,
    )
    return op.apply(df).select("doc_id", "translated", "route")


def _sql_union_replace(col: str) -> str:
    expr = col
    for k, v in UNION_DICT:
        expr = f"replace({expr}, '{k}', '{v}')"
    return expr


SQL_UNION_SUBSTITUTE = f"""
SELECT doc_id,
       CASE WHEN {_sql_union_replace('text')} <> text
            THEN {_sql_union_replace('text')} END AS translated,
       CASE WHEN {_sql_union_replace('text')} <> text
            THEN 'matched' ELSE 'unmatched' END AS route
FROM documents
"""


# ---------------------------------------------------------------------------
# O5: iterate_on array-of-values (explode + join + reassemble semantics)
# ---------------------------------------------------------------------------

def q_iterate_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _load(spark, sf_dir, "documents").withColumn(
        "words", F.slice(F.split(F.col("text"), " "), 1, 5)
    )
    op = Translate(
        TranslateConfig(
            source="words",
            iterate_on="words",
            target="translated",
            dictionary=WORD_DICT,
            fallback=WORD_FALLBACK,
        ),
        spark=spark,
    )
    out = op.apply(df)
    return out.select(
        "doc_id", F.posexplode("translated").alias("pos0", "translated")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "translated")


SQL_ITERATE_VALUES = f"""
WITH {_values_cte('dict', WORD_DICT)},
tok AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')[1:5]) AS word,
         generate_subscripts(string_split(text, ' ')[1:5], 1) AS pos
  FROM documents
)
SELECT t.doc_id, t.pos, COALESCE(d.v, '{WORD_FALLBACK}') AS translated
FROM tok t LEFT JOIN dict d ON t.word = d.k
"""


# O6: iterate_on array-of-maps
def q_iterate_maps(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _load(spark, sf_dir, "events").withColumn(
        "items",
        F.array(
            F.struct(F.col("event_type").alias("kind")),
            F.struct(F.upper(F.col("event_type")).alias("kind")),
        ),
    )
    op = Translate(
        TranslateConfig(
            source="kind",
            iterate_on="items",
            target="label",
            dictionary=EVENTS_DICT,
            fallback=EVENTS_FALLBACK,
        ),
        spark=spark,
    )
    out = op.apply(df)
    return out.select(
        "event_id", F.posexplode("items").alias("pos0", "item")
    ).select(
        "event_id",
        (F.col("pos0") + 1).alias("pos"),
        F.col("item.kind").alias("kind"),
        F.col("item.label").alias("label"),
    )


SQL_ITERATE_MAPS = f"""
WITH {_values_cte('dict', EVENTS_DICT)},
items AS (
  SELECT event_id, 1 AS pos, event_type AS kind FROM events
  UNION ALL
  SELECT event_id, 2 AS pos, upper(event_type) AS kind FROM events
)
SELECT i.event_id, i.pos, i.kind,
       COALESCE(d.v, '{EVENTS_FALLBACK}') AS label
FROM items i LEFT JOIN dict d ON i.kind = d.k
"""


# per-key match histogram (north-star aggregate)
def q_per_key_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _load(spark, sf_dir, "events")
    op = Translate(
        TranslateConfig(
            source="event_type",
            target="translation",
            dictionary=EVENTS_DICT,
            fallback=EVENTS_FALLBACK,
        ),
        spark=spark,
    )
    out = op.apply(df, matched_key_col="matched_key")
    return out.groupBy("route", "matched_key").agg(F.count("*").alias("cnt"))


SQL_PER_KEY_HISTOGRAM = f"""
WITH {_values_cte('dict', EVENTS_DICT)},
t AS (
  SELECT CASE WHEN d.k IS NOT NULL THEN 'matched' ELSE 'fallback' END AS route,
         d.k AS matched_key
  FROM events e LEFT JOIN dict d ON e.event_type = d.k
)
SELECT route, matched_key, COUNT(*) AS cnt FROM t GROUP BY route, matched_key
"""


# ---------------------------------------------------------------------------
# training-data ops: dedup
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_load(spark, sf_dir, "documents"), "text", "doc_id")


SQL_DEDUP_EXACT = """
SELECT min(doc_id) AS doc_id, COUNT(*) AS dup_cnt
FROM documents
GROUP BY md5(lower(regexp_replace(text, '\\s+', ' ', 'g')))
"""

_SQL_TOK = """
tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
)"""

_SQL_SHINGLE_HASH = (
    _SQL_TOK
    + """,
sh AS (
  SELECT t1.doc_id, t1.w || ' ' || t2.w || ' ' || t3.w AS s
  FROM tok t1
  JOIN tok t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
  JOIN tok t3 ON t1.doc_id = t3.doc_id AND t3.pos = t1.pos + 2
),
h AS (
  SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS h FROM sh
)"""
)


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return _every_doc(docs, minhash_signatures(docs, "text", "doc_id"))


def _sql_minhash_cols() -> str:
    return ",\n       ".join(
        f"min(({a} * h.h + {b}) % {MINHASH_P}) AS m{i}"
        for i, (a, b) in enumerate(MINHASH_COEF)
    )


SQL_MINHASH_SIGNATURES = f"""
WITH {_SQL_SHINGLE_HASH}
SELECT d.doc_id,
       {_sql_minhash_cols()}
FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id
GROUP BY d.doc_id
"""


def q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = minhash_signatures(
        _load(spark, sf_dir, "documents"), "text", "doc_id"
    )
    return lsh_candidate_pairs(sigs, "doc_id")


def _sql_lsh_pairs(cap: "int | None" = None) -> str:
    """ONE template for the uncapped and capped LSH-pair oracles (deriving
    the capped SQL by string surgery on the uncapped text would let any
    future ')' in the final SELECT silently corrupt it). The QUALIFY
    bucket-width cap is an optional slot; both constants below are
    rendered from this function."""
    banded_body = """
  SELECT doc_id, 0 AS band_idx, m0::VARCHAR || '_' || m1::VARCHAR AS band_key FROM sig WHERE m0 IS NOT NULL
  UNION ALL
  SELECT doc_id, 1, m2::VARCHAR || '_' || m3::VARCHAR FROM sig WHERE m0 IS NOT NULL
  UNION ALL
  SELECT doc_id, 2, m4::VARCHAR || '_' || m5::VARCHAR FROM sig WHERE m0 IS NOT NULL
  UNION ALL
  SELECT doc_id, 3, m6::VARCHAR || '_' || m7::VARCHAR FROM sig WHERE m0 IS NOT NULL
"""
    if cap is None:
        banded_ctes = f"banded AS ({banded_body})"
    else:
        banded_ctes = (
            f"banded_all AS ({banded_body}),\n"
            "banded AS (\n"
            "  SELECT doc_id, band_idx, band_key FROM banded_all\n"
            "  QUALIFY COUNT(*) OVER "
            f"(PARTITION BY band_idx, band_key) <= {cap}\n"
            ")"
        )
    return f"""
WITH {_SQL_SHINGLE_HASH},
sig AS (
  SELECT d.doc_id, {_sql_minhash_cols()}
  FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id
  GROUP BY d.doc_id
),
{banded_ctes}
SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
FROM banded l JOIN banded r
  ON l.band_idx = r.band_idx AND l.band_key = r.band_key AND l.doc_id < r.doc_id
"""


SQL_LSH_PAIRS = _sql_lsh_pairs()

#: cap chosen to BIND on the test corpus (widest bucket is 3-4 at
#: sf0.001/sf0.01) so the capped query's oracle row actually exercises
#: the drop, not just the pass-through
LSH_CAP = 2


def q_lsh_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The opt-in web-scale skew guard (max_bucket) as an oracle-checked
    behavior: buckets wider than LSH_CAP are dropped entirely, mirrored
    in SQL with a COUNT() OVER window so both engines stay
    value-identical at any scale (a Spark-only cap would silently
    diverge once real buckets exceed it). Spark's plan keeps the cap
    sort-free: groupBy(band).count() + broadcast anti-join
    (operators/dedup.py::_cap_buckets)."""
    sigs = minhash_signatures(
        _load(spark, sf_dir, "documents"), "text", "doc_id"
    )
    return lsh_candidate_pairs(sigs, "doc_id", max_bucket=LSH_CAP)


SQL_LSH_PAIRS_CAPPED = _sql_lsh_pairs(LSH_CAP)


def q_near_dup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END near-dup dedup pipeline as one query: MinHash
    signatures → banded-LSH candidate pairs → exact n-gram-Jaccard verify
    (integer arithmetic, threshold 0.8) → drop the higher id of each
    verified pair → the kept (canonical) document set. Every stage is the
    scale-safe plane (no all-pairs anywhere); the verify touches LSH
    candidates only."""
    docs = _load(spark, sf_dir, "documents")
    # the candidate/verify pipeline is shared with the components planes
    dup = _dedup_dup_pairs(docs).select(F.col("id_b").alias("doc_id"))
    return docs.select("doc_id").join(dup, "doc_id", "left_anti")


SQL_NEAR_DUP_KEEP = f"""
WITH {_SQL_SHINGLE_HASH},
sig AS (
  SELECT d.doc_id, {_sql_minhash_cols()}
  FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id
  GROUP BY d.doc_id
),
banded AS (
  SELECT doc_id, 0 AS band_idx, m0::VARCHAR || '_' || m1::VARCHAR AS band_key FROM sig WHERE m0 IS NOT NULL
  UNION ALL
  SELECT doc_id, 1, m2::VARCHAR || '_' || m3::VARCHAR FROM sig WHERE m0 IS NOT NULL
  UNION ALL
  SELECT doc_id, 2, m4::VARCHAR || '_' || m5::VARCHAR FROM sig WHERE m0 IS NOT NULL
  UNION ALL
  SELECT doc_id, 3, m6::VARCHAR || '_' || m7::VARCHAR FROM sig WHERE m0 IS NOT NULL
),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM banded l JOIN banded r
    ON l.band_idx = r.band_idx AND l.band_key = r.band_key
   AND l.doc_id < r.doc_id
),
dsh AS (SELECT DISTINCT doc_id, s FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_intersect
  FROM cand c
  JOIN dsh sa ON sa.doc_id = c.id_a
  JOIN dsh sb ON sb.doc_id = c.id_b AND sb.s = sa.s
  GROUP BY c.id_a, c.id_b
),
dup AS (
  SELECT DISTINCT c.id_b AS doc_id
  FROM cand c
  JOIN sizes za ON za.doc_id = c.id_a
  JOIN sizes zb ON zb.doc_id = c.id_b
  LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
  WHERE za.n_sh + zb.n_sh - COALESCE(i.n_intersect, 0) > 0
    AND COALESCE(i.n_intersect, 0) * {JACCARD_KEEP_DEN}
        >= (za.n_sh + zb.n_sh - COALESCE(i.n_intersect, 0)) * {JACCARD_KEEP_NUM}
)
SELECT d.doc_id FROM documents d
WHERE NOT EXISTS (SELECT 1 FROM dup WHERE dup.doc_id = d.doc_id)
"""


def _dedup_dup_pairs(docs: DataFrame) -> DataFrame:
    """Shared verified-duplicate-pair pipeline (MinHash → banded LSH →
    near_dup_pairs' integer-Jaccard ≥ 4/5): one definition so the
    components planes (and their single shared oracle) can never fork
    semantically."""
    sigs = minhash_signatures(docs, "text", "doc_id")
    pairs = lsh_candidate_pairs(sigs, "doc_id")
    return near_dup_pairs(docs, "text", "doc_id", pairs)


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: the same verified-duplicate pairs as
    near_dup_keep (MinHash → banded LSH → integer-Jaccard ≥ 0.8), closed
    into connected components — (doc_id, component) for every document,
    component = min doc_id reachable through duplicate edges. The group
    structure a training pipeline actually needs: the pairwise keep-rule
    over-deletes on chains a-b-c (b and c both drop although c may only
    duplicate b), while one canonical representative per component is
    exact. Iterative min-label propagation with per-iteration
    localCheckpoint — state ∝ nodes-in-pairs, never corpus-wide; the
    fixpoint loop is the engine's iterative-algorithm plane
    (operators/dedup.py::connected_components)."""
    docs = _load(spark, sf_dir, "documents")
    return connected_components(
        docs.select("doc_id"), _dedup_dup_pairs(docs), id_col="doc_id"
    )


def q_dedup_components_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BIG-GRAPH plane of dedup_components: ``broadcast_member_limit=0``
    puts the singleton-re-entry anti-join on the merge-hinted SHUFFLE
    left-anti path — the plane the size gate selects once the measured
    member count exceeds ``BROADCAST_MEMBER_LIMIT``. At web-crawl
    near-dup rates (30-45% of documents) the member set is corpus-scale,
    so at 100 TB this IS the default plane; pinning its digest here keeps
    the beyond-broadcast shape honest at test scale. Same oracle as dedup_components — the
    plane is a physical choice, not a semantic one (the candidate/verify
    pipeline is literally shared: _dedup_dup_pairs)."""
    docs = _load(spark, sf_dir, "documents")
    return connected_components(
        docs.select("doc_id"), _dedup_dup_pairs(docs), id_col="doc_id",
        broadcast_member_limit=0,
    )


# the oracle closes the duplicate-pair graph with a recursive CTE
# (transitive reachability, then MIN per node) — exact at test scales;
# the Spark side's label propagation computes the identical fixpoint.
# Shared by dedup_components and canonical_docs.
_SQL_COMPONENTS_CTES = f"""{_SQL_SHINGLE_HASH},
sig AS (
  SELECT d.doc_id, {_sql_minhash_cols()}
  FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id
  GROUP BY d.doc_id
),
banded AS (
  SELECT doc_id, 0 AS band_idx, m0::VARCHAR || '_' || m1::VARCHAR AS band_key FROM sig WHERE m0 IS NOT NULL
  UNION ALL
  SELECT doc_id, 1, m2::VARCHAR || '_' || m3::VARCHAR FROM sig WHERE m0 IS NOT NULL
  UNION ALL
  SELECT doc_id, 2, m4::VARCHAR || '_' || m5::VARCHAR FROM sig WHERE m0 IS NOT NULL
  UNION ALL
  SELECT doc_id, 3, m6::VARCHAR || '_' || m7::VARCHAR FROM sig WHERE m0 IS NOT NULL
),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM banded l JOIN banded r
    ON l.band_idx = r.band_idx AND l.band_key = r.band_key
   AND l.doc_id < r.doc_id
),
dsh AS (SELECT DISTINCT doc_id, s FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_intersect
  FROM cand c
  JOIN dsh sa ON sa.doc_id = c.id_a
  JOIN dsh sb ON sb.doc_id = c.id_b AND sb.s = sa.s
  GROUP BY c.id_a, c.id_b
),
dup_pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c
  JOIN sizes za ON za.doc_id = c.id_a
  JOIN sizes zb ON zb.doc_id = c.id_b
  LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
  WHERE za.n_sh + zb.n_sh - COALESCE(i.n_intersect, 0) > 0
    AND COALESCE(i.n_intersect, 0) * {JACCARD_KEEP_DEN}
        >= (za.n_sh + zb.n_sh - COALESCE(i.n_intersect, 0)) * {JACCARD_KEEP_NUM}
),
sym AS (
  SELECT id_a AS a, id_b AS b FROM dup_pairs
  UNION
  SELECT id_b, id_a FROM dup_pairs
),
reach(n, m) AS (
  SELECT a, a FROM sym
  UNION
  SELECT r.n, s.b FROM reach r JOIN sym s ON s.a = r.m
),
comp AS (SELECT n AS doc_id, MIN(m) AS component FROM reach GROUP BY n)"""

SQL_DEDUP_COMPONENTS = f"""
WITH RECURSIVE {_SQL_COMPONENTS_CTES}
SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
"""


def q_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION on top of the clustering: one canonical
    document per near-dup component — keep the LONGEST version (the
    standard curation rule; the truncated copies drop), ties to the
    lowest doc_id. (component, keep_id), integers only. The argmax is a
    ``max_by`` over struct(n_chars, -doc_id): a map-side partial
    aggregate — the shuffle carries one candidate per component per
    partition, the same scale shape as ivf_assign's argmax (no window
    sort over the corpus)."""
    docs = _load(spark, sf_dir, "documents")
    comp = q_dedup_components(spark, sf_dir)
    return (
        comp.join(docs.select("doc_id", "n_chars"), "doc_id")
        .groupBy("component")
        .agg(
            F.max_by(
                "doc_id", F.struct(F.col("n_chars"), (-F.col("doc_id")))
            ).alias("keep_id")
        )
    )


SQL_CANONICAL_DOCS = f"""
WITH RECURSIVE {_SQL_COMPONENTS_CTES},
labeled AS (
  SELECT d.doc_id, d.n_chars, COALESCE(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
),
ranked AS (
  SELECT component, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY component ORDER BY n_chars DESC, doc_id ASC
         ) AS rn
  FROM labeled
)
SELECT component, doc_id AS keep_id FROM ranked WHERE rn = 1
"""


#: eval/benchmark split for the fuzzy-decontamination row: doc_id below
#: this bound plays the benchmark set, the rest the training corpus. At
#: sf0.01 a dozen eval docs have verified train-side near-dups, so the
#: oracle row exercises real flags, not an empty pass-through.
FUZZY_EVAL_BOUND = 100


def q_fuzzy_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY decontamination: training documents that NEAR-duplicate an
    eval/benchmark document (MinHash → cross-corpus banded LSH →
    integer-Jaccard ≥ 0.8), as (doc_id, eval_id) flag pairs. The exact
    plane (contamination_check) only catches verbatim leaks; benchmark
    text reaches crawls reformatted, so real pipelines decontaminate
    fuzzily. Scale shape: the eval side's bands are BROADCAST
    (lsh_candidate_pairs_cross) — the 100 TB training corpus is banded
    map-side and never shuffles; the Jaccard verify then touches
    candidate documents only (semi-join prefilter)."""
    docs = _load(spark, sf_dir, "documents")
    # ONE signature pipeline over the whole corpus, split by the
    # eval bound afterwards — signatures are per-document, so filtering
    # the signed frame is value-identical to signing the filtered frame,
    # so no second full scan→shingle→md5→agg subtree is needed. The
    # localCheckpoint materializes the shared frame once for both sides.
    sigs = minhash_signatures(docs, "text", "doc_id").localCheckpoint(
        eager=False
    )
    sigs_t = sigs.filter(F.col("doc_id") >= FUZZY_EVAL_BOUND)
    sigs_e = sigs.filter(F.col("doc_id") < FUZZY_EVAL_BOUND)
    cand = lsh_candidate_pairs_cross(sigs_t, sigs_e, "doc_id")
    return (
        near_dup_pairs(docs, "text", "doc_id", cand)
        .select(F.col("id_a").alias("doc_id"), F.col("id_b").alias("eval_id"))
        .distinct()
    )


#: doc-frequency threshold for the boilerplate inventory: at sf0.01 the
#: corpus has ~150 shingles in 5-9 docs and none wider, so 5 BINDS (the
#: row exercises real survivors, not an empty pass-through)
BOILERPLATE_MIN_DOCS = 5


def q_boilerplate_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The boilerplate inventory: word 3-grams appearing in ≥ 5 distinct
    documents (nav chrome, footers, cookie banners) — the text that
    produces the hot LSH buckets the one ``max_bucket`` cap, on
    ``lsh_candidate_pairs``, guards against. Measuring it is how a
    deployment PICKS that cap. One shuffle keyed on
    the shingle, map-side partial counts
    (operators/dedup.py::boilerplate_shingles)."""
    return boilerplate_shingles(
        _load(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        min_docs=BOILERPLATE_MIN_DOCS,
    )


SQL_BOILERPLATE_SHINGLES = f"""
WITH {_SQL_SHINGLE_HASH},
dsh AS (SELECT DISTINCT doc_id, s FROM sh)
SELECT s AS shingle, COUNT(*) AS doc_freq
FROM dsh GROUP BY s HAVING COUNT(*) >= {BOILERPLATE_MIN_DOCS}
"""


SQL_FUZZY_CONTAMINATION = f"""
WITH {_SQL_SHINGLE_HASH},
sig AS (
  SELECT d.doc_id, {_sql_minhash_cols()}
  FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id
  GROUP BY d.doc_id
),
banded AS (
  SELECT doc_id, 0 AS band_idx, m0::VARCHAR || '_' || m1::VARCHAR AS band_key FROM sig WHERE m0 IS NOT NULL
  UNION ALL
  SELECT doc_id, 1, m2::VARCHAR || '_' || m3::VARCHAR FROM sig WHERE m0 IS NOT NULL
  UNION ALL
  SELECT doc_id, 2, m4::VARCHAR || '_' || m5::VARCHAR FROM sig WHERE m0 IS NOT NULL
  UNION ALL
  SELECT doc_id, 3, m6::VARCHAR || '_' || m7::VARCHAR FROM sig WHERE m0 IS NOT NULL
),
cand AS (
  SELECT DISTINCT t.doc_id AS id_a, e.doc_id AS id_b
  FROM banded t JOIN banded e
    ON t.band_idx = e.band_idx AND t.band_key = e.band_key
  WHERE t.doc_id >= {FUZZY_EVAL_BOUND} AND e.doc_id < {FUZZY_EVAL_BOUND}
),
dsh AS (SELECT DISTINCT doc_id, s FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_intersect
  FROM cand c
  JOIN dsh sa ON sa.doc_id = c.id_a
  JOIN dsh sb ON sb.doc_id = c.id_b AND sb.s = sa.s
  GROUP BY c.id_a, c.id_b
)
SELECT c.id_a AS doc_id, c.id_b AS eval_id
FROM cand c
JOIN sizes za ON za.doc_id = c.id_a
JOIN sizes zb ON zb.doc_id = c.id_b
LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
WHERE za.n_sh + zb.n_sh - COALESCE(i.n_intersect, 0) > 0
  AND COALESCE(i.n_intersect, 0) * {JACCARD_KEEP_DEN}
      >= (za.n_sh + zb.n_sh - COALESCE(i.n_intersect, 0)) * {JACCARD_KEEP_NUM}
"""


#: increment split for the incremental-dedup row: doc_id % 4 == 0 plays
#: the NEW batch (25%), the rest the standing kept corpus. A modulus
#: (not an absolute bound) so the row exercises real cross- AND
#: intra-batch drops at every scale factor.
INCR_NEW_MOD = 4


def q_incremental_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup: which new-batch documents survive against the
    standing kept corpus — cross-corpus banded LSH (the increment's
    bands broadcast; the corpus is banded map-side and NEVER shuffles
    for candidates) unioned with intra-batch self-LSH, one shared
    integer-Jaccard verify (∝ candidate docs via the semi-join
    prefilter), corpus always wins, intra-batch drops the higher id
    (near_dup_keep's rule). The daily-increment shape of a 100 TB
    pipeline: the corpus is never re-deduped, and with its signatures
    persisted never re-signed either
    (operators/dedup.py::incremental_near_dup_keep)."""
    docs = _load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % INCR_NEW_MOD != 0)
    new_docs = docs.filter(F.col("doc_id") % INCR_NEW_MOD == 0)
    # both sides are modulus-splits of ONE frame, so sign that frame
    # once and filter the signed output (per-document signatures:
    # sign-then-filter ≡ filter-then-sign) — the operator takes the
    # signed halves and no second full scan→shingle→md5→agg pipeline
    # enters the plan.
    sigs = minhash_signatures(docs, "text", "doc_id").localCheckpoint(
        eager=False
    )
    return incremental_near_dup_keep(
        corpus, new_docs, "text", "doc_id",
        corpus_sigs=sigs.filter(F.col("doc_id") % INCR_NEW_MOD != 0),
        new_sigs=sigs.filter(F.col("doc_id") % INCR_NEW_MOD == 0),
    )


SQL_INCREMENTAL_KEEP = f"""
WITH {_SQL_SHINGLE_HASH},
sig AS (
  SELECT d.doc_id, {_sql_minhash_cols()}
  FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id
  GROUP BY d.doc_id
),
banded AS (
  SELECT doc_id, 0 AS band_idx, m0::VARCHAR || '_' || m1::VARCHAR AS band_key FROM sig WHERE m0 IS NOT NULL
  UNION ALL
  SELECT doc_id, 1, m2::VARCHAR || '_' || m3::VARCHAR FROM sig WHERE m0 IS NOT NULL
  UNION ALL
  SELECT doc_id, 2, m4::VARCHAR || '_' || m5::VARCHAR FROM sig WHERE m0 IS NOT NULL
  UNION ALL
  SELECT doc_id, 3, m6::VARCHAR || '_' || m7::VARCHAR FROM sig WHERE m0 IS NOT NULL
),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM banded l JOIN banded r
    ON l.band_idx = r.band_idx AND l.band_key = r.band_key
  WHERE r.doc_id % {INCR_NEW_MOD} = 0
    AND (   l.doc_id % {INCR_NEW_MOD} <> 0
         OR (l.doc_id % {INCR_NEW_MOD} = 0 AND l.doc_id < r.doc_id))
),
dsh AS (SELECT DISTINCT doc_id, s FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_intersect
  FROM cand c
  JOIN dsh sa ON sa.doc_id = c.id_a
  JOIN dsh sb ON sb.doc_id = c.id_b AND sb.s = sa.s
  GROUP BY c.id_a, c.id_b
),
dup AS (
  SELECT DISTINCT c.id_b AS doc_id
  FROM cand c
  JOIN sizes za ON za.doc_id = c.id_a
  JOIN sizes zb ON zb.doc_id = c.id_b
  LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
  WHERE za.n_sh + zb.n_sh - COALESCE(i.n_intersect, 0) > 0
    AND COALESCE(i.n_intersect, 0) * {JACCARD_KEEP_DEN}
        >= (za.n_sh + zb.n_sh - COALESCE(i.n_intersect, 0)) * {JACCARD_KEEP_NUM}
)
SELECT d.doc_id FROM documents d
WHERE d.doc_id % {INCR_NEW_MOD} = 0
  AND NOT EXISTS (SELECT 1 FROM dup WHERE dup.doc_id = d.doc_id)
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return _every_doc(docs, simhash(docs, "text", "doc_id", SIMHASH_BITS))


def _sql_simhash_ctes(bits: int = SIMHASH_BITS) -> str:
    """Shared CTE chain ending in sims(doc_id, simhash) — reused verbatim
    by the simhash and simhash_pairs oracles. NULL-signature (tokenless)
    docs are absent from sims; the simhash oracle left-joins them back."""
    bit_sums = ",\n         ".join(
        f"sum(CASE WHEN (h.h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(bits)
    )
    recombine = " + ".join(
        f"CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(bits)
    )
    return f"""{_SQL_TOK},
h AS (
  SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) AS h FROM tok
),
bits AS (
  SELECT doc_id,
         {bit_sums}
  FROM h GROUP BY doc_id
),
sims AS (
  SELECT doc_id, CAST({recombine} AS BIGINT) AS simhash FROM bits
)"""


SQL_SIMHASH = f"""
WITH {_sql_simhash_ctes()}
SELECT d.doc_id, s.simhash
FROM documents d LEFT JOIN sims s ON s.doc_id = d.doc_id
"""

#: pairing runs on a WIDER signature than the per-doc profile query: 16
#: bits collapse this template-generated corpus into a few clusters
#: (~31% of all pairs land within Hamming 3 — the bucket join would be
#: near-quadratic); 32 bits make Hamming ≤ 3 mean real similarity
SIMHASH_PAIR_BITS = 32
SIMHASH_PAIR_BANDS = 4
SIMHASH_PAIR_MAX_HAMMING = 3


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairing: pigeonhole prefix-band bucket join (any
    pair with < bands flipped bits agrees exactly on one band) + codegen
    popcount verify — the Hamming-space twin of lsh_pairs."""
    from ..operators.dedup import simhash_pairs

    return simhash_pairs(
        _load(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        bits=SIMHASH_PAIR_BITS,
        bands=SIMHASH_PAIR_BANDS,
        max_hamming=SIMHASH_PAIR_MAX_HAMMING,
    ).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


def _sql_simhash_pairs() -> str:
    width = SIMHASH_PAIR_BITS // SIMHASH_PAIR_BANDS
    mask = (1 << width) - 1
    band_rows = ", ".join(f"({b})" for b in range(SIMHASH_PAIR_BANDS))
    return f"""
WITH {_sql_simhash_ctes(SIMHASH_PAIR_BITS)},
banded AS (
  SELECT s.doc_id, b.band_idx,
         (s.simhash >> (b.band_idx * {width})) & {mask} AS band_val
  FROM sims s, (VALUES {band_rows}) b(band_idx)
  WHERE s.simhash IS NOT NULL
),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM banded l
  JOIN banded r ON l.band_idx = r.band_idx AND l.band_val = r.band_val
              AND l.doc_id < r.doc_id
)
SELECT c.id_a, c.id_b,
       CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INTEGER) AS hamming
FROM cand c
JOIN sims sa ON sa.doc_id = c.id_a
JOIN sims sb ON sb.doc_id = c.id_b
WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {SIMHASH_PAIR_MAX_HAMMING}
"""


SQL_SIMHASH_PAIRS = _sql_simhash_pairs()


def q_jaccard_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    ids = docs.select("doc_id")
    pairs = (
        ids.alias("a")
        .join(ids.alias("b"), F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
    )
    # every document is in a candidate pair here (adjacent ids), so the
    # semi-join reduction would be pure overhead — skip it; near_dup_keep
    # exercises the prefiltered (real LSH-candidate) shape
    return ngram_jaccard_pairs(docs, "text", "doc_id", pairs, prefilter=False)


SQL_JACCARD_ADJACENT = f"""
WITH {_SQL_TOK},
sh AS (
  SELECT DISTINCT t1.doc_id, t1.w || ' ' || t2.w || ' ' || t3.w AS s
  FROM tok t1
  JOIN tok t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
  JOIN tok t3 ON t1.doc_id = t3.doc_id AND t3.pos = t1.pos + 2
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
),
inter AS (
  SELECT p.id_a, p.id_b, COUNT(*) AS n_intersect
  FROM pairs p
  JOIN sh sa ON sa.doc_id = p.id_a
  JOIN sh sb ON sb.doc_id = p.id_b AND sb.s = sa.s
  GROUP BY p.id_a, p.id_b
)
SELECT p.id_a, p.id_b,
       COALESCE(i.n_intersect, 0) AS n_intersect,
       za.n_sh + zb.n_sh - COALESCE(i.n_intersect, 0) AS n_union
FROM pairs p
LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
JOIN sizes za ON za.doc_id = p.id_a
JOIN sizes zb ON zb.doc_id = p.id_b
"""


# ---------------------------------------------------------------------------
# training-data ops: text analysis
# ---------------------------------------------------------------------------

def q_tokens_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _load(spark, sf_dir, "documents")
    text = F.col("text")
    toks = tokens(text)
    return df.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        (
            F.length(text) - F.length(F.regexp_replace(text, r"[.,;:!?]", ""))
        ).alias("n_punct"),
        (F.length(text) - F.length(F.regexp_replace(text, r"[0-9]", ""))).alias(
            "n_digits"
        ),
        quality_score(text).alias("quality_score"),
    )


SQL_TOKENS_QUALITY = """
WITH base AS (
  SELECT doc_id, text,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
         length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits,
         length(replace(text, ' ', '')) AS tok_chars
  FROM documents
)
SELECT doc_id, n_tokens, n_punct, n_digits,
       (CASE WHEN n_tokens >= 10 THEN 1 ELSE 0 END
        + CASE WHEN n_digits * 10 < length(text) THEN 1 ELSE 0 END
        + CASE WHEN n_tokens > 0
               AND (CAST(tok_chars AS DOUBLE) / n_tokens) BETWEEN 2.0 AND 12.0
               THEN 1 ELSE 0 END) AS quality_score
FROM base
"""


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counting (training-data op)."""
    from ..functions.text import bpe_ish_token_count

    df = _load(spark, sf_dir, "documents")
    return df.select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("ws_tokens"),
        bpe_ish_token_count(F.col("text")).alias("bpe_tokens"),
    )


SQL_TOKEN_COUNTS = r"""
SELECT doc_id,
       len(list_filter(string_split(text, ' '), x -> x <> '')) AS ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS bpe_tokens
FROM documents
"""


def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash document fingerprint (first 64 chars)."""
    from ..functions.text import rolling_fingerprint

    df = _load(spark, sf_dir, "documents")
    return df.select(
        "doc_id", rolling_fingerprint(F.col("text")).alias("rhash")
    )


def _sql_rolling_fingerprint() -> str:
    from ..functions.text import ROLLING_P, ROLLING_POWS, ROLLING_WINDOW

    pows = "[" + ", ".join(str(p) for p in ROLLING_POWS) + "]"
    # CAST ... AS BIGINT: DuckDB's list_sum yields HUGEINT, which pandas
    # materializes as float64 — the driver's value hash then sees 1.0 vs 1;
    # Spark's sum is int64
    return f"""
SELECT doc_id,
       CASE WHEN text IS NOT NULL AND length(text) > 0 THEN
         CAST(list_sum(list_transform(
           generate_series(1, least(length(text), {ROLLING_WINDOW})),
           i -> CAST(ascii(substr(text, i, 1)) AS BIGINT) * ({pows})[i]
         )) % {ROLLING_P} AS BIGINT)
       END AS rhash
FROM documents
"""


SQL_ROLLING_FINGERPRINT = _sql_rolling_fingerprint()


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    return _every_doc(
        docs,
        langid_scores(docs, "text", "doc_id", LANGID_PROFILES),
        lang_id="und",
    )


def _sql_langid() -> str:
    marker_rows = ", ".join(
        f"('{lang}', '{w}')" for lang, words in LANGID_PROFILES for w in words
    )
    return f"""
WITH markers(lang_cand, w) AS (VALUES {marker_rows}),
tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
scores AS (
  SELECT t.doc_id, m.lang_cand, COUNT(*) AS hits
  FROM tok t JOIN markers m ON t.w = m.w
  GROUP BY t.doc_id, m.lang_cand
),
best AS (
  SELECT doc_id, lang_cand,
         row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang_cand) AS rn
  FROM scores
)
SELECT d.doc_id, COALESCE(b.lang_cand, 'und') AS lang_id
FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1
"""


SQL_LANGID = _sql_langid()


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import fingerprint

    return _load(spark, sf_dir, "documents").select(
        "doc_id", fingerprint(F.col("text")).alias("fingerprint")
    )


SQL_FINGERPRINT = """
SELECT doc_id, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint
FROM documents
"""


# ---------------------------------------------------------------------------
# training-data ops: similarity search
# ---------------------------------------------------------------------------

def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k on the fold plane (broadcast query
    set, nested-loop scoring, one window). Output is ID-only; NULL, empty
    or width-mismatched vectors score NULL and rank NULLS LAST, as in the
    oracle."""
    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return brute_force_topk(emb, queries, k=5)


SQL_SIMILARITY_TOPK = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 3
),
scored AS (
  SELECT q.query_id, c.vec_id,
         list_dot_product(c.embedding, q.qe)
         / (sqrt(list_dot_product(c.embedding, c.embedding))
            * sqrt(list_dot_product(q.qe, q.qe))) AS score
  FROM embeddings c, q
  WHERE c.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id FROM ranked WHERE rank <= 5
"""


def q_similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_topk(emb, queries, LSH_PLANES, k=5)


def _sql_similarity_lsh() -> str:
    def plane_lit(p):
        return "[" + ", ".join(f"{x}" for x in p) + "]"

    bucket = " + ".join(
        f"CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), {plane_lit(p)}) >= 0 "
        f"THEN {1 << i} ELSE 0 END"
        for i, p in enumerate(LSH_PLANES)
    )
    return f"""
WITH b AS (
  SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM b WHERE vec_id < 3),
scored AS (
  SELECT q.query_id, c.vec_id,
         list_dot_product(c.embedding, q.qe)
         / (sqrt(list_dot_product(c.embedding, c.embedding))
            * sqrt(list_dot_product(q.qe, q.qe))) AS score
  FROM b c JOIN q ON c.bucket = q.bucket
  WHERE c.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id FROM ranked WHERE rank <= 5
"""


SQL_SIMILARITY_LSH = _sql_similarity_lsh()

# 3 bands × 3 planes, deterministic (same formula family as LSH_PLANES
# with a per-band offset)
LSH_BANDS = [
    [
        [(((i * 37 + p * 17 + 53 * b) % 13) - 6) / 6.0 for i in range(64)]
        for p in range(3)
    ]
    for b in range(3)
]


def q_similarity_lsh_multiband(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-band hyperplane LSH top-k (OR of 3 bands — the recall lever;
    measured ≥0.5 vs single-band ~0.27 on the near-random testdata in
    tests/test_bucketed_similarity.py)."""
    from ..operators.similarity import lsh_topk_multiband

    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_topk_multiband(emb, queries, LSH_BANDS, k=5)


def _sql_similarity_lsh_multiband() -> str:
    def plane_lit(p):
        return "[" + ", ".join(f"{x}" for x in p) + "]"

    def bucket_expr(planes):
        return " + ".join(
            f"CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), {plane_lit(p)}) >= 0 "
            f"THEN {1 << i} ELSE 0 END"
            for i, p in enumerate(planes)
        )

    band_ctes = ",\n".join(
        f"b{b} AS (SELECT vec_id, {bucket_expr(planes)} AS bucket FROM embeddings)"
        for b, planes in enumerate(LSH_BANDS)
    )
    cand_union = "\n  UNION\n".join(
        f"  SELECT q.vec_id AS query_id, c.vec_id\n"
        f"  FROM b{b} c JOIN b{b} q ON c.bucket = q.bucket\n"
        f"  WHERE q.vec_id < 3"
        for b in range(len(LSH_BANDS))
    )
    return f"""
WITH {band_ctes},
cand AS (
{cand_union}
),
scored AS (
  SELECT cd.query_id, cd.vec_id,
         list_dot_product(c.embedding, q.embedding)
         / (sqrt(list_dot_product(c.embedding, c.embedding))
            * sqrt(list_dot_product(q.embedding, q.embedding))) AS score
  FROM cand cd
  JOIN embeddings c ON c.vec_id = cd.vec_id
  JOIN embeddings q ON q.vec_id = cd.query_id
  WHERE cd.vec_id <> cd.query_id
),
ranked AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id FROM ranked WHERE rank <= 5
"""


SQL_SIMILARITY_LSH_MULTIBAND = _sql_similarity_lsh_multiband()


def q_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite training-data curation: keep documents that pass the
    quality gate, have a recognized language profile, and are the canonical
    copy under exact dedup — the end-to-end 'clean the corpus' pipeline."""
    from ..functions.text import quality_score
    from ..operators.dedup import exact_dedup

    docs = _load(spark, sf_dir, "documents")
    # langid_scores returns only the documents with a marker hit, so
    # the inner join below drops the 'und' documents with no second
    # documents scan.
    lang = langid_scores(docs, "text", "doc_id", LANGID_PROFILES)
    keep_ids = exact_dedup(docs, "text", "doc_id").select("doc_id")
    # the quality score is computed IN the base projection — joining
    # docs against a second scan of itself on doc_id (an identity
    # self-join: doc_id is the table key) would pay a scan + a join for
    # a map-side expression.
    base = docs.select(
        "doc_id", "lang", quality_score(F.col("text")).alias("q")
    )
    return (
        base
        .join(lang, "doc_id")
        .join(keep_ids, "doc_id")  # canonical copies only
        .filter(F.col("q") >= 2)
        .select("doc_id", "lang", "lang_id", F.col("q").alias("quality_score"))
    )


def _sql_corpus_filter() -> str:
    langid_cte = SQL_LANGID.strip().rstrip("\n")
    # reuse the langid SQL as a subquery
    return f"""
WITH lang_ids AS ({langid_cte}),
quality AS (
  SELECT doc_id,
         (CASE WHEN len(list_filter(string_split(text,' '), x -> x <> '')) >= 10 THEN 1 ELSE 0 END
          + CASE WHEN (length(text) - length(regexp_replace(text,'[0-9]','','g'))) * 10 < length(text) THEN 1 ELSE 0 END
          + CASE WHEN len(list_filter(string_split(text,' '), x -> x <> '')) > 0
                 AND (CAST(length(replace(text,' ','')) AS DOUBLE)
                      / len(list_filter(string_split(text,' '), x -> x <> ''))) BETWEEN 2.0 AND 12.0
                 THEN 1 ELSE 0 END) AS q
  FROM documents
),
canonical AS (
  SELECT min(doc_id) AS doc_id FROM documents
  GROUP BY md5(lower(regexp_replace(text, '\\s+', ' ', 'g')))
)
SELECT d.doc_id, d.lang, l.lang_id, q.q AS quality_score
FROM documents d
JOIN quality q ON q.doc_id = d.doc_id
JOIN lang_ids l ON l.doc_id = d.doc_id
JOIN canonical c ON c.doc_id = d.doc_id
WHERE q.q >= 2 AND l.lang_id <> 'und'
"""


SQL_CORPUS_FILTER = _sql_corpus_filter()


# ---------------------------------------------------------------------------
# PII redaction (training-data scrub)
# ---------------------------------------------------------------------------

def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over a deterministic contact-laden text (emails, phones,
    IPs injected from doc_id so the oracle can state the same rows):
    codegen regexp_replace chain + per-rule audit counts."""
    from ..functions.text import redact, redaction_counts

    docs = _load(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    padded = F.lpad(did, 4, "0")
    contact = F.concat(
        F.lit("doc "), did,
        F.lit(" mail user"), padded, F.lit("@example.com"),
        F.lit(" tel +1-555-"), padded,
        F.lit(" ip 10.0."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 end"),
    )
    n = redaction_counts(contact)
    return docs.select(
        "doc_id",
        redact(contact).alias("redacted"),
        n[0].cast("bigint").alias("n_emails"),
        n[1].cast("bigint").alias("n_phones"),
        n[2].cast("bigint").alias("n_ips"),
    )


_SQL_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_SQL_PII_PHONE = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,10}"
_SQL_PII_IP = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

SQL_PII_REDACT = """
WITH c AS (
  SELECT doc_id,
         'doc ' || CAST(doc_id AS VARCHAR)
         || ' mail user' || lpad(CAST(doc_id AS VARCHAR), 4, '0')
         || '@example.com tel +1-555-'
         || lpad(CAST(doc_id AS VARCHAR), 4, '0')
         || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 end'
         AS contact
  FROM documents
)
-- counts mirror the Spark side's chained audit: each rule is counted on
-- the text with earlier rules already applied, so counts == substitutions
-- even when matches overlap
, r1 AS (
  SELECT doc_id, contact,
         regexp_replace(contact, '{email}', '<EMAIL>', 'g') AS after_email
  FROM c
),
r2 AS (
  SELECT doc_id, contact, after_email,
         regexp_replace(after_email, '{phone}', '<PHONE>', 'g') AS after_phone
  FROM r1
)
SELECT doc_id,
       regexp_replace(after_phone, '{ip}', '<IP>', 'g') AS redacted,
       CAST(len(regexp_extract_all(contact, '{email}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(after_email, '{phone}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(after_phone, '{ip}')) AS BIGINT) AS n_ips
FROM r2
""".format(email=_SQL_PII_EMAIL, phone=_SQL_PII_PHONE, ip=_SQL_PII_IP)


# ---------------------------------------------------------------------------
# table-backed dictionary (the 100 TB dictionary shape)
# ---------------------------------------------------------------------------

def q_table_dict_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Translate against a DICTIONARY TABLE: the dictionary is a derived
    frame (nation ⋈ region → nationkey→region name, region 0 withheld so
    the fallback route is exercised) instead of an in-memory pairs list —
    the shape a 10^9-entry dictionary takes at cluster scale. Same
    override/fallback/route semantics through the same operator body."""
    from ..operators.translate import translate_with_table

    cust = _load(spark, sf_dir, "customer")
    nation = _load(spark, sf_dir, "nation")
    region = _load(spark, sf_dir, "region")
    dict_df = (
        nation.join(
            region, nation["n_regionkey"] == region["r_regionkey"]
        )
        .filter(F.col("r_regionkey") != 0)
        .select("n_nationkey", "r_name")
    )
    out = translate_with_table(
        cust, "c_nationkey", dict_df, "n_nationkey", "r_name",
        target="region_name", fallback="no-region",
    )
    return out.select("c_custkey", "c_nationkey", "region_name", "route")


def q_lineitem_brand_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table dictionary over the LARGEST provided table: every lineitem
    probes a part→brand dictionary (keys p_partkey % 7 == 0 withheld so
    the fallback route is nonzero), then per-(brand, route) counts. The
    probe side — the 100 TB side in production — stays unshuffled until
    the final small aggregate."""
    from ..operators.translate import translate_with_table

    li = _load(spark, sf_dir, "lineitem")
    part = _load(spark, sf_dir, "part")
    dict_df = part.filter(F.col("p_partkey") % 7 != 0).select(
        "p_partkey", "p_brand"
    )
    out = translate_with_table(
        li, "l_partkey", dict_df, "p_partkey", "p_brand",
        target="brand", fallback="no-brand",
    )
    return out.groupBy("brand", "route").agg(F.count("*").alias("cnt"))


SQL_LINEITEM_BRAND_ENRICH = """
WITH d AS (
  SELECT CAST(p_partkey AS VARCHAR) AS k, MIN(p_brand) AS v
  FROM part WHERE p_partkey % 7 <> 0 GROUP BY 1
)
SELECT COALESCE(d.v, 'no-brand') AS brand,
       CASE WHEN d.k IS NOT NULL THEN 'matched' ELSE 'fallback' END AS route,
       COUNT(*) AS cnt
FROM lineitem l LEFT JOIN d ON CAST(l.l_partkey AS VARCHAR) = d.k
GROUP BY 1, 2
"""


SQL_TABLE_DICT_ENRICH = """
WITH d AS (
  SELECT CAST(n.n_nationkey AS VARCHAR) AS k, MIN(r.r_name) AS v
  FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_regionkey <> 0
  GROUP BY 1
)
SELECT c.c_custkey, c.c_nationkey,
       COALESCE(d.v, 'no-region') AS region_name,
       CASE WHEN d.k IS NOT NULL THEN 'matched' ELSE 'fallback' END AS route
FROM customer c LEFT JOIN d ON CAST(c.c_nationkey AS VARCHAR) = d.k
"""


def q_table_dict_shuffle_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BEYOND-BROADCAST dictionary plane:
    same translate semantics as ``table_dict_enrich`` but with
    ``broadcast=False`` — the dictionary is declared too large for any
    single machine, so the probe joins it with a genuine shuffle
    (sort-merge) join; the pinned digest proves no BroadcastExchange on
    the dict side. This is the engine's story past the reference's
    100k-entry ceiling (the reference's docs/index.asciidoc:76-77): a
    driver-side Ruby hash caps at heap size, a shuffle-joined dictionary
    table caps at cluster storage. Dictionary: per-order flag summary
    derived from lineitem (keys with l_orderkey % 5 == 0 withheld so the
    fallback route is exercised)."""
    from ..operators.translate import translate_with_table

    orders = _load(spark, sf_dir, "orders")
    li = _load(spark, sf_dir, "lineitem")
    # one row per LINE; the operator's own duplicate-key dedup (min value
    # per key) collapses it to one row per order — no pre-aggregate needed
    dict_df = li.filter(F.col("l_orderkey") % 5 != 0).select(
        F.col("l_orderkey").alias("k"),
        F.concat_ws("|", "l_returnflag", "l_linestatus").alias("v"),
    )
    out = translate_with_table(
        orders, "o_orderkey", dict_df, "k", "v",
        target="flags", fallback="no-flags", broadcast=False,
    )
    return out.select("o_orderkey", "flags", "route")


SQL_TABLE_DICT_SHUFFLE_ENRICH = """
WITH d AS (
  SELECT CAST(l_orderkey AS VARCHAR) AS k,
         MIN(l_returnflag || '|' || l_linestatus) AS v
  FROM lineitem WHERE l_orderkey % 5 <> 0
  GROUP BY 1
)
SELECT o.o_orderkey,
       COALESCE(d.v, 'no-flags') AS flags,
       CASE WHEN d.k IS NOT NULL THEN 'matched' ELSE 'fallback' END AS route
FROM orders o LEFT JOIN d ON CAST(o.o_orderkey AS VARCHAR) = d.k
"""


# ---------------------------------------------------------------------------
# corpus curation: sampling / capping / repetition / contamination / vocab
# ---------------------------------------------------------------------------

SAMPLE_RATES = {"en": 0.5, "de": 0.25, "fr": 0.1}
SAMPLE_DEFAULT_RATE = 0.05
DOMAIN_CAP = 40
CONTAM_BENCH_STEP = 97  # doc_id % 97 == 0 → deterministic benchmark set
VOCAB_K = 20
CURATION_MAX_REP_PCT = 50

#: DuckDB twin of functions/text.py::hash32 over a BIGINT id
_SQL_ID_HASH32 = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
)


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language training-mix draw: map-side filter on
    hash32(doc_id) — no shuffle, no RNG; reruns/engines agree exactly."""
    from ..operators.curation import stratified_sample

    docs = _load(spark, sf_dir, "documents")
    return stratified_sample(
        docs, "lang", SAMPLE_RATES, "doc_id", SAMPLE_DEFAULT_RATE
    ).select("doc_id", "lang")


def _sql_rate_case() -> str:
    # round, not truncate — must mirror stratified_sample's threshold
    # arithmetic exactly (operators/curation.py)
    whens = " ".join(
        f"WHEN '{s}' THEN {int(round(r * 10000))}"
        for s, r in sorted(SAMPLE_RATES.items())
    )
    return (
        f"CASE lang {whens} ELSE {int(round(SAMPLE_DEFAULT_RATE * 10000))} END"
    )


SQL_STRATIFIED_SAMPLE = f"""
SELECT doc_id, lang FROM documents
WHERE {_SQL_ID_HASH32} % 10000 < {_sql_rate_case()}
"""


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain frequency cap: at most {DOMAIN_CAP} docs per source,
    best-first (n_chars desc, doc_id tiebreak) — WindowGroupLimit keeps
    the hot-domain skew map-side."""
    from ..operators.curation import domain_cap

    docs = _load(spark, sf_dir, "documents")
    return domain_cap(
        docs, "source", "doc_id", DOMAIN_CAP, order_col="n_chars"
    ).select("doc_id", "source")


SQL_DOMAIN_CAP = f"""
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source ORDER BY n_chars DESC, doc_id
         ) AS rn
  FROM documents
) WHERE rn <= {DOMAIN_CAP}
"""


def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import repetition_ratio

    docs = _load(spark, sf_dir, "documents")
    return _every_doc(
        docs,
        repetition_ratio(docs, "text", "doc_id"),
        max_ngram_cnt=0,
        total_ngrams=0,
    )


# CASTs: DuckDB SUM(BIGINT) is HUGEINT and COALESCE(...,0) infers INTEGER;
# Spark's are both bigint
SQL_REPETITION_RATIO = f"""
WITH {_SQL_TOK},
sh AS (
  SELECT t1.doc_id, t1.w || ' ' || t2.w || ' ' || t3.w AS s
  FROM tok t1
  JOIN tok t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
  JOIN tok t3 ON t1.doc_id = t3.doc_id AND t3.pos = t1.pos + 2
),
ps AS (SELECT doc_id, s, COUNT(*) AS c FROM sh GROUP BY doc_id, s),
st AS (
  SELECT doc_id, MAX(c) AS mx, SUM(c) AS tot FROM ps GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(st.mx, 0) AS BIGINT) AS max_ngram_cnt,
       CAST(COALESCE(st.tot, 0) AS BIGINT) AS total_ngrams
FROM documents d LEFT JOIN st ON st.doc_id = d.doc_id
"""


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: corpus docs sharing >=1 word 3-gram with
    the (deterministic) benchmark subset; benchmark members excluded."""
    from ..operators.curation import contamination_check

    docs = _load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % CONTAM_BENCH_STEP == 0)
    corpus = docs.filter(F.col("doc_id") % CONTAM_BENCH_STEP != 0)
    return contamination_check(corpus, bench, "text", "doc_id")


SQL_CONTAMINATION_CHECK = f"""
WITH {_SQL_TOK},
sh AS (
  SELECT DISTINCT t1.doc_id, t1.w || ' ' || t2.w || ' ' || t3.w AS s
  FROM tok t1
  JOIN tok t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
  JOIN tok t3 ON t1.doc_id = t3.doc_id AND t3.pos = t1.pos + 2
),
bench AS (
  SELECT DISTINCT s FROM sh WHERE doc_id % {CONTAM_BENCH_STEP} = 0
)
SELECT DISTINCT c.doc_id
FROM sh c
WHERE c.doc_id % {CONTAM_BENCH_STEP} <> 0
  AND EXISTS (SELECT 1 FROM bench b WHERE b.s = c.s)
"""


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global vocabulary top-k (token, count) — TakeOrderedAndProject,
    no full-sort shuffle; deterministic ties (cnt desc, token asc)."""
    from ..operators.curation import vocab_topk

    return vocab_topk(_load(spark, sf_dir, "documents"), "text", VOCAB_K)


SQL_VOCAB_TOPK = f"""
WITH {_SQL_TOK}
SELECT w AS token, COUNT(*) AS cnt
FROM tok GROUP BY w
ORDER BY cnt DESC, token ASC
LIMIT {VOCAB_K}
"""


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus profile (doc count, char/token sums, size
    range) — the summary every training-mix decision starts from. One
    hash aggregate with map-side partial combine; the shuffle carries
    |langs| rows per partition."""
    docs = _load(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(F.size(tokens(F.col("text")))).alias("sum_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# CASTs: DuckDB SUM(BIGINT) → HUGEINT; Spark's stays bigint
SQL_CORPUS_STATS = """
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> '')))
            AS BIGINT) AS sum_tokens,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars
FROM documents GROUP BY lang
"""


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation pass end-to-end: repetition filter (integer
    percent gate) → deterministic stratified sample → per-domain cap."""
    from ..operators.curation import curation_pipeline

    docs = _load(spark, sf_dir, "documents")
    return curation_pipeline(
        docs,
        "text",
        "doc_id",
        "lang",
        SAMPLE_RATES,
        "source",
        DOMAIN_CAP,
        max_repetition_pct=CURATION_MAX_REP_PCT,
        default_rate=SAMPLE_DEFAULT_RATE,
    )


SQL_CURATION_PIPELINE = f"""
WITH {_SQL_TOK},
sh AS (
  SELECT t1.doc_id, t1.w || ' ' || t2.w || ' ' || t3.w AS s
  FROM tok t1
  JOIN tok t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
  JOIN tok t3 ON t1.doc_id = t3.doc_id AND t3.pos = t1.pos + 2
),
ps AS (SELECT doc_id, s, COUNT(*) AS c FROM sh GROUP BY doc_id, s),
st AS (
  SELECT doc_id, MAX(c) AS mx, SUM(c) AS tot FROM ps GROUP BY doc_id
),
keep_rep AS (
  SELECT doc_id FROM st
  WHERE tot > 0 AND mx * 100 <= tot * {CURATION_MAX_REP_PCT}
),
sampled AS (
  SELECT doc_id, lang, source FROM (
    SELECT d.doc_id AS doc_id, d.lang, d.source
    FROM documents d JOIN keep_rep k ON k.doc_id = d.doc_id
  ) WHERE {_SQL_ID_HASH32} % 10000 < {_sql_rate_case()}
),
capped AS (
  SELECT doc_id, lang, source,
         row_number() OVER (
           PARTITION BY source ORDER BY doc_id
         ) AS rn
  FROM sampled
)
SELECT doc_id, lang, source FROM capped WHERE rn <= {DOMAIN_CAP}
"""


ANOMALY_TRAIL = 3  # trailing observed buckets in the spike comparison
ANOMALY_THRESHOLD_PCT = 150  # spike iff cnt > 150% of trailing average


def q_anomaly_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-window spike detection over hourly per-event-type counts:
    flag buckets exceeding 150% of the trailing 3-bucket average, via
    the cross-multiplied integer test (no float average). The WindowExec
    frame runs over the AGGREGATED (key, hour) rows, never events. At
    sf0.01: 654 of 3385 buckets flag."""
    from ..operators.sessionize import rolling_anomaly

    df = _load(spark, sf_dir, "events")
    return rolling_anomaly(
        df, "ts", "event_type",
        trail=ANOMALY_TRAIL, threshold_pct=ANOMALY_THRESHOLD_PCT,
    )


SQL_ANOMALY_HOURS = f"""
WITH c AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
)
SELECT event_type, bucket, cnt,
       CAST(COALESCE(SUM(cnt) OVER w, 0) AS BIGINT) AS trail_cnt,
       CAST(COUNT(cnt) OVER w AS BIGINT) AS trail_buckets,
       (COUNT(cnt) OVER w > 0
        AND cnt * COUNT(cnt) OVER w * 100
            > COALESCE(SUM(cnt) OVER w, 0) * {ANOMALY_THRESHOLD_PCT})
         AS is_spike
FROM c
WINDOW w AS (PARTITION BY event_type ORDER BY bucket
             ROWS BETWEEN {ANOMALY_TRAIL} PRECEDING AND 1 PRECEDING)
"""


CLS_BUCKETS = 1 << 18  # hashed-feature dimension (fastText-default-ish)
CLS_THRESHOLD_MILLI = 25  # keep iff mean milli-weight >= 25


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed bag-of-words linear classifier inference (fastText-style
    learned quality filter): tokens hash into 2^18 feature buckets, the
    doc scores the MEAN bucket weight, keep = cross-multiplied integer
    threshold test. Deterministic hash-derived milli-weights stand in
    for a trained model with the identical plan shape (one explode →
    codegen md5 → one doc-keyed exchange of two longs); at sf0.01 the
    threshold keeps 143/500 docs."""
    from ..operators.curation import hashed_linear_score

    docs = _load(spark, sf_dir, "documents")
    return hashed_linear_score(
        docs, "text", "doc_id",
        buckets=CLS_BUCKETS, threshold_milli=CLS_THRESHOLD_MILLI,
    )


SQL_QUALITY_CLASSIFIER = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
  FROM documents
), w AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('quality|' || CAST(
           CAST(('0x' || substr(md5('b|' || t), 1, 8)) AS BIGINT)
             % {CLS_BUCKETS}
         AS VARCHAR)), 1, 8)) AS BIGINT) % 2001 - 1000 AS wm
  FROM tok
)
SELECT doc_id, COUNT(*) AS n_tokens,
       CAST(SUM(wm) AS BIGINT) AS score_milli,
       CAST(SUM(wm) AS BIGINT) >= {CLS_THRESHOLD_MILLI} * COUNT(*) AS keep
FROM w GROUP BY doc_id
"""


CHUNK_TOKENS = 64  # embedding-window width
CHUNK_STRIDE = 48  # window starts 48 tokens apart (16-token overlap)
CHUNK_MIN_TOKENS = 8  # drop tail fragments below this


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking for embedding/RAG prep: 64-token windows
    whose starts are 48 apart (16-token overlap), deterministic 0-based
    chunk_id per doc, tail fragments under 8 tokens dropped. Map-only
    one-to-many expansion — ZERO exchanges."""
    from ..operators.curation import chunk_documents

    docs = _load(spark, sf_dir, "documents")
    return chunk_documents(
        docs, "text", "doc_id",
        chunk_tokens=CHUNK_TOKENS, stride=CHUNK_STRIDE,
        min_tokens=CHUNK_MIN_TOKENS,
    )


SQL_DOC_CHUNKS = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
), ch AS (
  SELECT doc_id,
         CAST((i - 1) // {CHUNK_STRIDE} AS INT) AS chunk_id,
         t[i : i + {CHUNK_TOKENS - 1}] AS c
  FROM toks,
       unnest(range(1, CAST(len(t) AS BIGINT) + 1, {CHUNK_STRIDE})) AS u(i)
)
SELECT doc_id, chunk_id, CAST(len(c) AS INT) AS n_tokens,
       array_to_string(c, ' ') AS chunk_text
FROM ch WHERE len(c) >= {CHUNK_MIN_TOKENS}
"""


#: per-language token budgets for the mixture draw: en/de/fr bind
#: (budget < supply → partial rate), zh exceeds supply (kept whole via
#: the LEAST cap), es is absent (default budget 0 → dropped) — the three
#: regimes a real mix spec hits
TOKEN_BUDGETS = {"en": 5000, "de": 2000, "fr": 1200, "zh": 10_000_000}
NUM_SHARDS = 16


def q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix draw to per-language TOKEN budgets (not doc-count
    rates): one tiny totals aggregate broadcast back, then a map-side
    integer-threshold filter — the corpus never shuffles. A smaller
    budget draws a strict subset of a larger one (same unseeded hash as
    stratified_sample), so mix ablations nest reproducibly."""
    from ..operators.curation import token_budget_mix

    docs = _load(spark, sf_dir, "documents")
    return token_budget_mix(
        docs, "lang", TOKEN_BUDGETS, "doc_id", "text"
    ).select("doc_id", "lang")


def _sql_budget_case() -> str:
    whens = " ".join(
        f"WHEN '{s}' THEN {int(b)}" for s, b in sorted(TOKEN_BUDGETS.items())
    )
    return f"CASE lang {whens} ELSE 0 END"


# integer threshold arithmetic mirrors operators/curation.py exactly:
# budget*10000 exact in BIGINT, // == Spark's `div` (truncation == floor
# for non-negative operands); CAST(SUM..) because DuckDB SUM(BIGINT) is
# HUGEINT while Spark's stays bigint
SQL_TOKEN_BUDGET_MIX = f"""
WITH toks AS (
  SELECT doc_id, lang,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS t
  FROM documents
),
tot AS (SELECT lang, CAST(SUM(t) AS BIGINT) AS tot FROM toks GROUP BY lang)
SELECT k.doc_id, k.lang
FROM toks k JOIN tot USING (lang)
WHERE {_SQL_ID_HASH32} % 10000 <
      LEAST(10000,
            (CAST({_sql_budget_case()} AS BIGINT) * 10000)
              // GREATEST(tot, 1))
"""


def q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training output: shard =
    seeded-hash % {NUM_SHARDS}, pos = rank within the shard by that hash.
    One exchange on shard + per-shard sort (never a global sort) — the
    writer's repartition+sortWithinPartitions shape with an auditable
    position column on the same plan."""
    from ..operators.curation import shuffle_shards

    docs = _load(spark, sf_dir, "documents")
    return shuffle_shards(docs, "doc_id", NUM_SHARDS)


SQL_SHUFFLE_SHARDS = f"""
WITH h AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('shard|' || CAST(doc_id AS VARCHAR)),
                              1, 8)) AS BIGINT) AS hh
  FROM documents
)
SELECT doc_id,
       hh % {NUM_SHARDS} AS shard,
       CAST(row_number() OVER (
         PARTITION BY hh % {NUM_SHARDS} ORDER BY hh, doc_id
       ) AS INT) AS pos
FROM h
"""


#: epochs-mode budgets: en ≈ 2.5–2.9 epochs (multi-copy), fr ≈ 1.8–2.4
#: (one copy + remainder draw), de ≈ 0.5 (downsample-as-special-case),
#: es/zh absent → dropped. Supplies at sf0.01: en 11757, de 3549,
#: fr 3758 tokens.
EPOCH_BUDGETS = {"en": 30_000, "de": 2_000, "fr": 9_000}


def q_token_budget_mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-repetition mixture draw: rare strata repeat (copy = 1..n)
    until their TOKEN budget is met in expectation, over-supplied strata
    downsample — one operator covers the whole training mix. Same
    shuffle-free shape as token_budget_mix plus a map-side explode."""
    from ..operators.curation import token_budget_mix

    docs = _load(spark, sf_dir, "documents")
    return token_budget_mix(
        docs, "lang", EPOCH_BUDGETS, "doc_id", "text", upsample=True
    ).select("doc_id", "lang", "copy")


def _sql_epoch_budget_case() -> str:
    whens = " ".join(
        f"WHEN '{s}' THEN {int(b)}" for s, b in sorted(EPOCH_BUDGETS.items())
    )
    return f"CASE lang {whens} ELSE 0 END"


SQL_TOKEN_BUDGET_MIX_EPOCHS = f"""
WITH toks AS (
  SELECT doc_id, lang,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS t
  FROM documents
),
tot AS (SELECT lang, CAST(SUM(t) AS BIGINT) AS tot FROM toks GROUP BY lang),
n AS (
  SELECT doc_id, lang,
         (CAST({_sql_epoch_budget_case()} AS BIGINT)
            // GREATEST(tot, 1))
         + CASE WHEN {_SQL_ID_HASH32} % 10000 <
                     ((CAST({_sql_epoch_budget_case()} AS BIGINT)
                         % GREATEST(tot, 1)) * 10000) // GREATEST(tot, 1)
                THEN 1 ELSE 0 END AS nc
  FROM toks JOIN tot USING (lang)
)
SELECT doc_id, lang, CAST(unnest(range(1, nc + 1)) AS BIGINT) AS copy
FROM n WHERE nc > 0
"""


SEQ_LEN = 512  # training-sequence length for pack_sequences


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-length sequence packing over the deterministic shuffle
    order: running token sum within each shard → (seq, off) placement of
    every document. Same single exchange + per-shard sort as
    shuffle_shards; pure long arithmetic so the layout is bit-exact
    across engines and re-runs."""
    from ..operators.curation import pack_sequences

    docs = _load(spark, sf_dir, "documents")
    return pack_sequences(docs, "doc_id", "text", NUM_SHARDS, SEQ_LEN)


SQL_PACK_SEQUENCES = f"""
WITH h AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('shard|' || CAST(doc_id AS VARCHAR)),
                              1, 8)) AS BIGINT) AS hh,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
              AS BIGINT) AS t
  FROM documents
), c AS (
  SELECT doc_id, hh % {NUM_SHARDS} AS shard, t,
         CAST(SUM(t) OVER (
           PARTITION BY hh % {NUM_SHARDS} ORDER BY hh, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum
  FROM h
)
SELECT doc_id, shard,
       (cum - t) // {SEQ_LEN} AS seq,
       (cum - t) % {SEQ_LEN} AS off
FROM c
"""


SEGMENT_WORDS = 4  # word-window size for segment dedup
SEGMENT_MIN_DOCS = 2  # doc-frequency at/above which a segment is boilerplate


def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style frequent-segment removal: segments (4-word windows)
    seen in ≥2 distinct docs are deleted everywhere and docs
    reassemble from the survivors in order; pure-boilerplate docs drop
    out. At sf0.01: 341 segments removed, 13 docs dropped."""
    from ..operators.dedup import remove_frequent_segments

    docs = _load(spark, sf_dir, "documents")
    return remove_frequent_segments(
        docs, "text", "doc_id",
        segment_words=SEGMENT_WORDS, min_docs=SEGMENT_MIN_DOCS,
    )


SQL_SEGMENT_DEDUP = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
), seg0 AS (
  SELECT doc_id, t,
         unnest(range(1, (len(t) + {SEGMENT_WORDS - 1}) // {SEGMENT_WORDS}
                         + 1)) AS i
  FROM toks
), seg AS (
  SELECT doc_id, i,
         array_to_string(
           t[(i - 1) * {SEGMENT_WORDS} + 1 : i * {SEGMENT_WORDS}], ' '
         ) AS segment
  FROM seg0
), freq AS (
  SELECT segment FROM seg
  GROUP BY segment HAVING COUNT(DISTINCT doc_id) >= {SEGMENT_MIN_DOCS}
), kept AS (
  SELECT seg.doc_id, seg.i, seg.segment FROM seg ANTI JOIN freq USING (segment)
)
SELECT doc_id, string_agg(segment, ' ' ORDER BY i) AS clean_text
FROM kept GROUP BY doc_id
"""


SPAN_WORDS = 5  # overlapping-gram width for duplicate-span removal
SPAN_MIN_DOCS = 2  # doc-frequency at/above which a span is duplicated


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate-SPAN removal (Lee et al. 2022): every
    word covered by an OVERLAPPING 5-gram seen in ≥2 distinct docs is
    deleted; docs reassemble from the surviving words in order, and docs
    whose every word sat in a duplicated span drop out. The sliding
    window catches a shared passage at ANY offset — the case
    segment_dedup's fixed tiling misses when the passage straddles a
    tile boundary."""
    from ..operators.dedup import remove_duplicate_spans

    docs = _load(spark, sf_dir, "documents")
    return remove_duplicate_spans(
        docs, "text", "doc_id",
        span_words=SPAN_WORDS, min_docs=SPAN_MIN_DOCS,
    )


SQL_SPAN_DEDUP = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
), g AS (
  SELECT doc_id, CAST(i AS BIGINT) AS i,
         array_to_string(t[i : i + {SPAN_WORDS - 1}], ' ') AS gram
  FROM toks,
       unnest(range(1, CAST(len(t) AS BIGINT) - {SPAN_WORDS - 2})) AS u(i)
), dup AS (
  SELECT gram FROM g
  GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= {SPAN_MIN_DOCS}
), flg AS (
  SELECT g.doc_id, g.i FROM g SEMI JOIN dup USING (gram)
), kept AS (
  SELECT toks.doc_id, CAST(j AS BIGINT) AS j, t[j] AS w
  FROM toks, unnest(range(1, CAST(len(t) AS BIGINT) + 1)) AS u(j)
  WHERE NOT EXISTS (
    SELECT 1 FROM flg
    WHERE flg.doc_id = toks.doc_id
      AND flg.i <= j AND j < flg.i + {SPAN_WORDS}
  )
)
SELECT doc_id, string_agg(w, ' ' ORDER BY j) AS clean_text
FROM kept GROUP BY doc_id
"""


IVF_CENTROID_STEP = 50  # vec_id % 50 == 0 → deterministic centroid set


def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF(nprobe=1) top-k: deterministic centroids (vec_id % step == 0),
    nearest-centroid cells, search within the query's cell."""
    from ..operators.similarity import ivf_topk

    emb = _load(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") % IVF_CENTROID_STEP == 0)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(emb, queries, centroids, k=5)


def q_similarity_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized-index IVF plane end-to-end: build the
    cell-partitioned index (write_ivf_index — the amortized 100 TB pass)
    once per session, then serve the same queries from it
    (ivf_topk_indexed; dynamic partition pruning restricts the scan to
    probed cells). Same oracle as
    similarity_ivf — the index is a layout, not a semantic change. The
    serve side probes under the index's OWN stored centroids
    (load_ivf_centroids), exercising the
    self-describing layout end-to-end; the pinned digest has the query
    side scan the _centroids parquet, not re-filter the embeddings
    table."""
    from ..operators.similarity import (
        ivf_index_complete,
        ivf_topk_indexed,
        write_ivf_index,
    )

    emb = _load(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") % IVF_CENTROID_STEP == 0)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # the index lives at a fixed child of this session's scratch dir: the
    # first call builds it, later calls in the same session serve from it
    # (the build costs more than a serve, so rebuilding per call would
    # time the build). A build that stopped between its two writes is
    # incomplete and is overwritten here.
    index_path = os.path.join(_scratch_dir("ivf", sf_dir), "index")
    if not ivf_index_complete(index_path):
        write_ivf_index(emb, centroids, index_path)
    return ivf_topk_indexed(spark, index_path, queries, k=5)


def _sql_similarity_ivf(nprobe: int = 1) -> str:
    """Corpus cells are always the single nearest centroid (a vector lives
    in one cell); the QUERY side probes its ``nprobe`` nearest cells."""
    return f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
  WHERE vec_id % {IVF_CENTROID_STEP} = 0
),
scored_cells AS (
  SELECT e.vec_id, c.cid,
         list_dot_product(e.embedding, c.cvec)
         / (sqrt(list_dot_product(e.embedding, e.embedding))
            * sqrt(list_dot_product(c.cvec, c.cvec))) AS cs
  FROM embeddings e, cent c
),
ranked_cells AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
  FROM scored_cells
),
cells AS (
  SELECT vec_id, cid AS cell FROM ranked_cells WHERE rn = 1
),
q AS (
  SELECT e.vec_id AS query_id, e.embedding AS qe, rc.cid AS cell
  FROM embeddings e
  JOIN ranked_cells rc ON rc.vec_id = e.vec_id AND rc.rn <= {nprobe}
  WHERE e.vec_id < 3
),
scored AS (
  SELECT q.query_id, c.vec_id,
         list_dot_product(c.embedding, q.qe)
         / (sqrt(list_dot_product(c.embedding, c.embedding))
            * sqrt(list_dot_product(q.qe, q.qe))) AS score
  FROM embeddings c
  JOIN cells cc ON cc.vec_id = c.vec_id
  JOIN q ON q.cell = cc.cell
  WHERE c.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id FROM ranked WHERE rank <= 5
"""


SQL_SIMILARITY_IVF = _sql_similarity_ivf(1)
SQL_SIMILARITY_IVF_PROBE2 = _sql_similarity_ivf(2)


def q_similarity_ivf_probe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with nprobe=2 — the standard recall lever: each query searches
    its two nearest cells (ranked on the tiny broadcast query side only;
    the corpus plan is identical to nprobe=1)."""
    from ..operators.similarity import ivf_topk

    emb = _load(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") % IVF_CENTROID_STEP == 0)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(emb, queries, centroids, k=5, nprobe=2)


COSINE_DEDUP_THRESHOLD = 0.4


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, hyperplane-LSH bucket prefilter +
    exact-cosine verify on candidates only — the scale-safe plan (an
    all-pairs cross join is quadratic; this self-joins on equal bucket,
    shrinking candidates to Σ bucket²). The oracle applies the
    identical bucket expression in SQL."""
    from ..operators.dedup import embedding_cosine_pairs

    emb = _load(spark, sf_dir, "embeddings")
    return embedding_cosine_pairs(
        emb, LSH_PLANES, COSINE_DEDUP_THRESHOLD
    )


def _sql_dedup_embedding_cosine() -> str:
    def plane_lit(p):
        return "[" + ", ".join(f"{x}" for x in p) + "]"

    bucket = " + ".join(
        f"CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), {plane_lit(p)}) >= 0 "
        f"THEN {1 << i} ELSE 0 END"
        for i, p in enumerate(LSH_PLANES)
    )
    return f"""
WITH b AS (
  SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
),
p AS (
  SELECT a.vec_id AS id_a, c.vec_id AS id_b,
         list_dot_product(a.embedding, c.embedding)
         / (sqrt(list_dot_product(a.embedding, a.embedding))
            * sqrt(list_dot_product(c.embedding, c.embedding))) AS cos
  FROM b a JOIN b c ON a.bucket = c.bucket AND c.vec_id > a.vec_id
)
SELECT id_a, id_b FROM p WHERE cos >= {COSINE_DEDUP_THRESHOLD}
"""


SQL_DEDUP_EMBEDDING_COSINE = _sql_dedup_embedding_cosine()


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing, oracle-checked: build a media table (binary
    content = UTF-8 text bytes) from documents, run the real mapInPandas
    feature extractor (decode stub → thumbnail dims → hashes), return the
    DuckDB-computable columns. Exercises the Arrow batch path end-to-end —
    the binary column is projected away inside the extractor."""
    from ..multimodal.binary_ops import extract_image_features

    docs = _load(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )
    feats = extract_image_features(media)
    return feats.select(
        "media_id", "content_sha256", "n_bytes", "thumb_width", "thumb_height"
    )


# mirrors decode_image_stub: w=16+(n%64), h=16+((n//64)%64), scale=max/8,
# thumb = max(1, floor(dim/scale)) — same double arithmetic order
SQL_MEDIA_FEATURES = """
WITH m AS (
  SELECT doc_id AS media_id,
         sha256(text) AS content_sha256,
         octet_length(encode(text)) AS n
  FROM documents WHERE text IS NOT NULL
),
dims AS (
  SELECT media_id, content_sha256, n,
         16 + (n % 64) AS w,
         16 + ((n // 64) % 64) AS h
  FROM m
)
SELECT media_id, content_sha256, CAST(n AS INT) AS n_bytes,
       CAST(greatest(1, floor(w / (greatest(w, h) / 8.0))) AS INT) AS thumb_width,
       CAST(greatest(1, floor(h / (greatest(w, h) / 8.0))) AS INT) AS thumb_height
FROM dims
"""


# ---------------------------------------------------------------------------
# event-time windowed aggregates (streaming semantics, batch-checkable)
# ---------------------------------------------------------------------------

def q_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-route counts in 1-hour event-time windows — the windowed
    aggregate of streaming/refresh.windowed_route_counts, batch plane
    (a batch plan drops its watermark)."""
    df = _load(spark, sf_dir, "events")
    op = Translate(
        TranslateConfig(
            source="event_type",
            target="translation",
            dictionary=EVENTS_DICT,
            fallback=EVENTS_FALLBACK,
        ),
        spark=spark,
    )
    from ..streaming.refresh import windowed_route_counts

    out = windowed_route_counts(op.apply(df), ts_col="ts", window="1 hour")
    return out.drop("window_end")


SQL_WINDOWED_COUNTS = f"""
WITH {_values_cte('dict', EVENTS_DICT)}
SELECT date_trunc('hour', e.ts) AS window_start,
       CASE WHEN d.k IS NOT NULL THEN 'matched' ELSE 'fallback' END AS route,
       COUNT(*) AS cnt
FROM events e LEFT JOIN dict d ON e.event_type = d.k
GROUP BY 1, 2
"""


def q_streaming_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Structured Streaming plane end-to-end: micro-batch the events
    table through the same translate (foreachBatch + checkpoint), then
    aggregate the routed sink. Must equal the batch oracle exactly —
    streaming and batch planes are the same logical plan."""
    import os
    import tempfile

    from ..streaming.refresh import StreamingTranslate, run_streaming_pipeline

    tmp = tempfile.mkdtemp(dir=_scratch_dir("stream_q", sf_dir))
    st = StreamingTranslate(
        TranslateConfig(
            source="event_type",
            target="translation",
            dictionary=EVENTS_DICT,
            fallback=EVENTS_FALLBACK,
        ),
        spark,
    )
    # FileStreamSource needs a directory; expose the single-file table
    # through a symlinked dir
    src_dir = os.path.join(tmp, "src")
    os.makedirs(src_dir, exist_ok=True)
    # abspath: a relative sf_dir would make the link target resolve
    # relative to the SYMLINK'S directory and dangle
    os.symlink(
        os.path.abspath(f"{sf_dir}/events.parquet"),
        os.path.join(src_dir, "events.parquet"),
    )
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = spark.readStream.schema(schema).parquet(src_dir)
    q = run_streaming_pipeline(spark, stream, st, tmp, f"{tmp}/ckpt")
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("streaming_exact: availableNow query exceeded 300s")
    routed = spark.read.parquet(f"{tmp}/routed")
    return routed.groupBy("route", "translation").agg(F.count("*").alias("cnt"))


# streaming and batch are the same logical plan → same oracle
SQL_STREAMING_EXACT = SQL_ROUTE_HISTOGRAM


DIGIT_DICT = [
    ("0", "zero"), ("1", "one"), ("2", "two"), ("3", "three"), ("4", "four"),
    # 5-9 intentionally missing → fallback route
]
DIGIT_FALLBACK = "high"


def q_props_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured enrich: the events.props JSON column is ingested as
    a Spark VARIANT (parse_json → variant_get — schemaless, no fixed
    from_json schema needed), a derived key is bucketed and translated.
    The grok-parse → lookup-enrich pattern over semi-structured payloads —
    map-side only, no shuffle."""
    df = _load(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "long")
    df = df.withColumn("k_val", k).withColumn(
        "k_bucket", F.pmod(F.col("k_val"), F.lit(10)).cast("string")
    )
    op = Translate(
        TranslateConfig(
            source="k_bucket",
            target="bucket_name",
            dictionary=DIGIT_DICT,
            fallback=DIGIT_FALLBACK,
        ),
        spark=spark,
    )
    return op.apply(df).select(
        "event_id", "k_val", "k_bucket", "bucket_name", "route"
    )


SQL_PROPS_ENRICH = f"""
WITH {_values_cte('dict', DIGIT_DICT)},
parsed AS (
  SELECT event_id,
         CAST(json_extract(props, '$.k') AS BIGINT) AS k_val
  FROM events
),
b AS (
  SELECT event_id, k_val,
         -- ((x % 10) + 10) % 10: DuckDB's % follows the dividend's sign,
         -- Spark's pmod is always non-negative; agree by construction
         CAST(((k_val % 10) + 10) % 10 AS VARCHAR) AS k_bucket
  FROM parsed
)
SELECT b.event_id, b.k_val, b.k_bucket,
       COALESCE(d.v, '{DIGIT_FALLBACK}') AS bucket_name,
       CASE WHEN d.k IS NOT NULL THEN 'matched' ELSE 'fallback' END AS route
FROM b LEFT JOIN dict d ON b.k_bucket = d.k
"""


SESSION_GAP_MINUTES = 30


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session numbering over events (30-min gap)."""
    from ..operators.sessionize import sessionize

    return sessionize(
        _load(spark, sf_dir, "events"), gap_minutes=SESSION_GAP_MINUTES
    )


# CAST AS BIGINT: DuckDB window SUM of integers yields HUGEINT (the
# rolling_fingerprint lesson); Spark's is int64
SQL_SESSIONIZE = f"""
WITH flagged AS (
  SELECT event_id, user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR date_diff('second', lag(ts) OVER w, ts)
                   > {SESSION_GAP_MINUTES * 60}
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id, user_id,
       CAST(SUM(new_s) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS UNBOUNDED PRECEDING
       ) AS BIGINT) AS session_seq
FROM flagged
"""


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup: state-store-backed groupBy(fingerprint)
    over a micro-batched documents stream; the final state must equal the
    batch exact_dedup exactly (same oracle — streaming and batch planes
    are the same logical aggregation)."""
    import os
    import tempfile

    from ..streaming.refresh import run_streaming_dedup

    tmp = tempfile.mkdtemp(dir=_scratch_dir("stream_dedup", sf_dir))
    src_dir = os.path.join(tmp, "src")
    os.makedirs(src_dir, exist_ok=True)
    os.symlink(
        os.path.abspath(f"{sf_dir}/documents.parquet"),
        os.path.join(src_dir, "documents.parquet"),
    )
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = spark.readStream.schema(schema).parquet(src_dir)
    q = run_streaming_dedup(
        spark, stream, "text", "doc_id", tmp, f"{tmp}/ckpt"
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("streaming_dedup: availableNow query exceeded 300s")
    return spark.read.parquet(f"{tmp}/deduped")


SQL_STREAMING_DEDUP = SQL_DEDUP_EXACT


# ---------------------------------------------------------------------------
# parse stage (axis B): html render → extract round-trip, byte-identical
# ---------------------------------------------------------------------------

def _render_pages_from_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pages built from the documents table in-query, so the
    DuckDB oracle can state the expected output without any UDF."""
    from ..plans.pages import HTML_MID1, HTML_MID2, HTML_PREFIX, HTML_SUFFIX

    df = _load(spark, sf_dir, "documents")
    status = F.element_at(
        F.array(*[F.lit(s) for s in STATUS_LIST]),
        (F.pmod(F.col("doc_id"), F.lit(len(STATUS_LIST))) + 1).cast("int"),
    )
    html = F.encode(
        F.concat(
            F.lit(HTML_PREFIX), status, F.lit(HTML_MID1), F.col("lang"),
            F.lit(HTML_MID2), F.col("text"), F.lit(HTML_SUFFIX),
        ),
        "UTF-8",
    )
    return df.select("doc_id", "lang", "text", html.alias("html"))


def q_parse_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extract_text(html) must round-trip byte-identically to text."""
    from ..functions.html import (
        extract_status_from_str,
        extract_text_from_str,
        html_str,
    )

    pages = _render_pages_from_docs(spark, sf_dir)
    html = html_str(F.col("html"))
    return pages.select(
        "doc_id",
        extract_text_from_str(html).alias("extracted"),
        extract_status_from_str(html).alias("status"),
    )


_SQL_STATUS_LIST = "[" + ", ".join(f"'{s}'" for s in STATUS_LIST) + "]"

SQL_PARSE_EXTRACT = f"""
SELECT doc_id, text AS extracted,
       {_SQL_STATUS_LIST}[(doc_id % {len(STATUS_LIST)}) + 1] AS status
FROM documents
"""


def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mini end-to-end: render pages → parse (extract status from html) →
    translate status → route → per-(route, lang) aggregate counts."""
    from ..functions.html import extract_status_from_str, html_str

    pages = _render_pages_from_docs(spark, sf_dir)
    parsed = pages.withColumn(
        "status", extract_status_from_str(html_str(F.col("html")))
    )
    op = Translate(
        TranslateConfig(
            source="status",
            target="status_text",
            dictionary=STATUS_DICT,
            fallback=STATUS_FALLBACK,
        ),
        spark=spark,
    )
    return (
        op.apply(parsed)
        .groupBy("route", "lang")
        .agg(F.count("*").alias("cnt"))
    )


SQL_PIPELINE_E2E = f"""
WITH {_values_cte('dict', STATUS_DICT)},
pages AS (
  SELECT doc_id, lang,
         {_SQL_STATUS_LIST}[(doc_id % {len(STATUS_LIST)}) + 1] AS status
  FROM documents
),
t AS (
  SELECT p.lang,
         CASE WHEN d.k IS NOT NULL THEN 'matched' ELSE 'fallback' END AS route
  FROM pages p LEFT JOIN dict d ON p.status = d.k
)
SELECT route, lang, COUNT(*) AS cnt FROM t GROUP BY route, lang
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

#: the query surface, in order: name → (query, DuckDB oracle SQL with the
#: query's exact column aliases). The first CONTRACT_ROWS rows are the
#: driver contract (__spark_entry__), one per distinct operator/behaviour:
#: the driver's correctness gate records only the first 50 rows of
#: queries(), so a row past them silently loses driver verification.
#: tools/selfcheck.py, the plan guards, the pinned plan digests and
#: bench.py cover every row.
REGISTRY: Dict[str, Tuple[Callable[[SparkSession, str], DataFrame], str]] = {
    "exact_events": (q_exact_events, SQL_EXACT_EVENTS),
    "fallback_dated": (q_fallback_dated, SQL_FALLBACK_DATED),
    "fallback_weekly": (q_fallback_weekly, SQL_FALLBACK_WEEKLY),
    "route_histogram": (q_route_histogram, SQL_ROUTE_HISTOGRAM),
    "exact_docs_lang": (q_exact_docs_lang, SQL_EXACT_DOCS_LANG),
    "override_gate": (q_override_gate, SQL_OVERRIDE_GATE),
    "regex_firstmatch": (q_regex_firstmatch, SQL_REGEX_FIRSTMATCH),
    "error_containment": (q_error_containment, SQL_ERROR_CONTAINMENT),
    "union_substitute": (q_union_substitute, SQL_UNION_SUBSTITUTE),
    "iterate_values": (q_iterate_values, SQL_ITERATE_VALUES),
    "iterate_maps": (q_iterate_maps, SQL_ITERATE_MAPS),
    "per_key_histogram": (q_per_key_histogram, SQL_PER_KEY_HISTOGRAM),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "minhash_signatures": (q_minhash_signatures, SQL_MINHASH_SIGNATURES),
    "lsh_pairs": (q_lsh_pairs, SQL_LSH_PAIRS),
    "lsh_pairs_capped": (q_lsh_pairs_capped, SQL_LSH_PAIRS_CAPPED),
    "simhash": (q_simhash, SQL_SIMHASH),
    "simhash_pairs": (q_simhash_pairs, SQL_SIMHASH_PAIRS),
    "jaccard_adjacent": (q_jaccard_adjacent, SQL_JACCARD_ADJACENT),
    "tokens_quality": (q_tokens_quality, SQL_TOKENS_QUALITY),
    "langid": (q_langid, SQL_LANGID),
    "fingerprint": (q_fingerprint, SQL_FINGERPRINT),
    "similarity_topk": (q_similarity_topk, SQL_SIMILARITY_TOPK),
    "similarity_lsh": (q_similarity_lsh, SQL_SIMILARITY_LSH),
    "parse_extract": (q_parse_extract, SQL_PARSE_EXTRACT),
    "pipeline_e2e": (q_pipeline_e2e, SQL_PIPELINE_E2E),
    "windowed_counts": (q_windowed_counts, SQL_WINDOWED_COUNTS),
    "streaming_exact": (q_streaming_exact, SQL_STREAMING_EXACT),
    "dedup_embedding_cosine": (q_dedup_embedding_cosine, SQL_DEDUP_EMBEDDING_COSINE),
    "token_counts": (q_token_counts, SQL_TOKEN_COUNTS),
    "rolling_fingerprint": (q_rolling_fingerprint, SQL_ROLLING_FINGERPRINT),
    "similarity_ivf": (q_similarity_ivf, SQL_SIMILARITY_IVF),
    "similarity_ivf_indexed": (q_similarity_ivf_indexed, SQL_SIMILARITY_IVF),
    "corpus_filter": (q_corpus_filter, SQL_CORPUS_FILTER),
    "media_features": (q_media_features, SQL_MEDIA_FEATURES),
    "streaming_dedup": (q_streaming_dedup, SQL_STREAMING_DEDUP),
    "sessionize": (q_sessionize, SQL_SESSIONIZE),
    "props_enrich": (q_props_enrich, SQL_PROPS_ENRICH),
    "near_dup_keep": (q_near_dup_keep, SQL_NEAR_DUP_KEEP),
    "similarity_lsh_multiband": (q_similarity_lsh_multiband, SQL_SIMILARITY_LSH_MULTIBAND),
    "pii_redact": (q_pii_redact, SQL_PII_REDACT),
    "table_dict_enrich": (q_table_dict_enrich, SQL_TABLE_DICT_ENRICH),
    "lineitem_brand_enrich": (q_lineitem_brand_enrich, SQL_LINEITEM_BRAND_ENRICH),
    "stratified_sample": (q_stratified_sample, SQL_STRATIFIED_SAMPLE),
    "domain_cap": (q_domain_cap, SQL_DOMAIN_CAP),
    "repetition_ratio": (q_repetition_ratio, SQL_REPETITION_RATIO),
    "contamination_check": (q_contamination_check, SQL_CONTAMINATION_CHECK),
    "vocab_topk": (q_vocab_topk, SQL_VOCAB_TOPK),
    "corpus_stats": (q_corpus_stats, SQL_CORPUS_STATS),
    "curation_pipeline": (q_curation_pipeline, SQL_CURATION_PIPELINE),
    # past the cap: plane/parameter variants of contract rows (each
    # docstring says which)
    "similarity_ivf_probe2": (q_similarity_ivf_probe2, SQL_SIMILARITY_IVF_PROBE2),
    "table_dict_shuffle_enrich": (q_table_dict_shuffle_enrich, SQL_TABLE_DICT_SHUFFLE_ENRICH),
    "dedup_components": (q_dedup_components, SQL_DEDUP_COMPONENTS),
    "dedup_components_shuffle": (q_dedup_components_shuffle, SQL_DEDUP_COMPONENTS),
    "canonical_docs": (q_canonical_docs, SQL_CANONICAL_DOCS),
    "fuzzy_contamination": (q_fuzzy_contamination, SQL_FUZZY_CONTAMINATION),
    "boilerplate_shingles": (q_boilerplate_shingles, SQL_BOILERPLATE_SHINGLES),
    "incremental_keep": (q_incremental_keep, SQL_INCREMENTAL_KEEP),
    "token_budget_mix": (q_token_budget_mix, SQL_TOKEN_BUDGET_MIX),
    "shuffle_shards": (q_shuffle_shards, SQL_SHUFFLE_SHARDS),
    "pack_sequences": (q_pack_sequences, SQL_PACK_SEQUENCES),
    "segment_dedup": (q_segment_dedup, SQL_SEGMENT_DEDUP),
    "token_budget_mix_epochs": (q_token_budget_mix_epochs, SQL_TOKEN_BUDGET_MIX_EPOCHS),
    "span_dedup": (q_span_dedup, SQL_SPAN_DEDUP),
    "quality_classifier": (q_quality_classifier, SQL_QUALITY_CLASSIFIER),
    "doc_chunks": (q_doc_chunks, SQL_DOC_CHUNKS),
    "anomaly_hours": (q_anomaly_hours, SQL_ANOMALY_HOURS),
}
CONTRACT_ROWS = 50

#: these execute a Structured Streaming microbatch when the query function
#: is called (their batch result is what the oracle checks), so there is
#: no pre-execution plan to fingerprint or guard, and no build/exec split
#: to time
RUN_AT_BUILD = {"streaming_exact", "streaming_dedup"}

_ROWS = list(REGISTRY.items())
#: the driver contract: queries() / oracle_sql() of __spark_entry__
QUERIES = {name: fn for name, (fn, _) in _ROWS[:CONTRACT_ROWS]}
ORACLES = {name: sql for name, (_, sql) in _ROWS[:CONTRACT_ROWS]}
EXTRA_QUERIES = {name: fn for name, (fn, _) in _ROWS[CONTRACT_ROWS:]}
EXTRA_ORACLES = {name: sql for name, (_, sql) in _ROWS[CONTRACT_ROWS:]}
ALL_QUERIES = {name: fn for name, (fn, _) in _ROWS}
