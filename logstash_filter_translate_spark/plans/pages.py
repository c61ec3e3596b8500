"""Deterministic synthetic Common-Crawl-style pages corpus (FIXTURES.md §1).

Schema per BASELINE.json.input_hint:
    url:string, warc_ts:timestamp, html:binary, text:string, lang:string
plus derived-input extras used by the enrich stages
(status embedded in html headers, collaborator id arrays).

Generation is 100% Catalyst expressions over ``spark.range`` — no Python,
no RNG at runtime (all mixing is fixed multiplicative hashing on the row
id, seed 42 baked into the constants) — so a 100M-row corpus generates at
scan speed and identically on any cluster.

``html`` is rendered FROM ``text`` by a fixed template, so
``extract_text(html) == text`` **byte-identically** — the north-rule
invariant is testable by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

WORDS = [
    "key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "merge", "batch", "query", "plan", "join", "shuffle", "spill",
    "cache", "page", "crawl", "index", "token", "parse", "route", "sink",
    "match", "regex", "union", "exact", "broadcast", "skew", "salt", "lang",
    "meta", "header", "body", "text", "html", "status", "code", "error",
    "fall", "back", "translate", "dict", "lookup", "fetch", "update", "event",
    "stream", "micro", "arrow", "pandas", "column", "vector", "codegen",
    "prune", "filter", "push", "down", "limit", "sort", "window", "group",
    "count", "sum", "min", "max", "avg", "first", "last", "collect", "list",
    "struct", "array", "map", "field", "nested", "path", "target", "source",
    "override", "refresh", "interval", "merge2", "replace", "sched", "mtime",
    "yaml", "json", "csv", "inline", "file", "load", "swap", "lock", "read",
    "write", "commit", "log", "warn", "crawl2",
]
HOSTS = WORDS[:100]
TLDS = ["com", "org", "net", "de", "fr"]
STATUSES = ["200", "200", "200", "301", "404", "500", "999", "junk"]
LANG_CUTS = [(55, "en"), (70, "de"), (80, "fr"), (88, "es"), (94, "ja"), (97, "zh")]
COLLAB_POOL = ["100", "101", "102", "103", "110"]

HTML_PREFIX = '<html><head><meta http-equiv="Status" content="'
HTML_MID1 = '"><meta name="lang" content="'
HTML_MID2 = '"></head><body><p>'
HTML_SUFFIX = "</p></body></html>"

# 2026-01-01T00:00:00Z
EPOCH_2026 = 1767225600


def _pick(arr_lit: Column, mix: Column, n: int) -> Column:
    return F.element_at(arr_lit, (F.pmod(mix, F.lit(n)) + 1).cast("int"))


def generate_pages(spark: SparkSession, n_rows: int) -> DataFrame:
    """Build the pages DataFrame over ``spark.range`` (source parallelism
    is spark.default.parallelism)."""
    rng = spark.range(0, n_rows)
    i = F.col("id")
    words = F.array(*[F.lit(w) for w in WORDS])
    hosts = F.array(*[F.lit(h) for h in HOSTS])
    tlds = F.array(*[F.lit(t) for t in TLDS])
    statuses = F.array(*[F.lit(s) for s in STATUSES])
    pool = F.array(*[F.lit(c) for c in COLLAB_POOL])

    host = _pick(hosts, i * 2654435761, len(HOSTS))
    tld = _pick(tlds, i * 40503, len(TLDS))
    url = F.concat(
        F.lit("https://"), host, F.lit(".example."), tld, F.lit("/p/"),
        i.cast("string"),
    )

    lang_mix = F.pmod(i * 9176 + 13, F.lit(100))
    lang = F.lit("xx-unknown")
    for cut, code in reversed(LANG_CUTS):
        lang = F.when(lang_mix < cut, F.lit(code)).otherwise(lang)

    status = _pick(statuses, i * 31 + 7, len(STATUSES))

    n_words = (F.pmod(i * 7919, F.lit(46)) + 5).cast("int")
    body = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), n_words),
            lambda j: F.element_at(
                words, (F.pmod(i * 1315423911 + j * 2654435761, F.lit(len(WORDS))) + 1).cast("int")
            ),
        ),
    )
    # a controlled fraction embeds union-substitution keys (FIXTURES.md §1)
    text = F.when(
        F.pmod(i, F.lit(97)) == 0, F.concat(body, F.lit(" 200 & 500"))
    ).otherwise(body)

    warc_ts = F.timestamp_seconds(F.lit(EPOCH_2026) + i * 17)

    html = F.encode(
        F.concat(
            F.lit(HTML_PREFIX), status, F.lit(HTML_MID1), lang,
            F.lit(HTML_MID2), text, F.lit(HTML_SUFFIX),
        ),
        "UTF-8",
    )

    n_collab = F.pmod(i * 23 + 3, F.lit(7)).cast("int")  # 0..6 elements
    # guard the n=0 case: sequence(1,0) DESCENDS to [1,0] (CLAUDE.md
    # invariant), which would hand ~1/7 of rows two phantom collaborators
    # instead of an empty array
    collab_range = F.when(
        n_collab > 0, F.sequence(F.lit(1), n_collab)
    ).otherwise(F.array().cast("array<int>"))
    collab_ids = F.transform(
        collab_range,
        lambda j: F.element_at(
            pool, (F.pmod(i * 13 + j * 7, F.lit(len(COLLAB_POOL))) + 1).cast("int")
        ),
    )
    collab_structs = F.transform(
        collab_ids, lambda c: F.struct(c.alias("collaborator_id"))
    )

    return rng.select(
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        html.alias("html"),
        text.alias("text"),
        lang.alias("lang"),
        collab_ids.alias("collaborator_ids"),
        collab_structs.alias("collaborators"),
    )

