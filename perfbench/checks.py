"""Correctness checks, computed apart from the engine under test.

Each check returns a list of mismatch descriptions; an empty list means the
outputs are right. ``pages_errors`` recounts the input parquet with DuckDB;
``lookup_errors`` compares collected (key, value) pairs with a plain-Python
lookup over the dictionary files the generator wrote.
"""

from __future__ import annotations

import csv
import json
import os
import re
from typing import Dict, Iterable, List, Tuple

import duckdb
import yaml

from logstash_filter_translate_spark.plans.pipeline import PipelineConfig

#: the fallback of every lookup_heavy Translate; a miss must come out as
#: exactly this value
MISS = "-"
_STATUS_RE = '<meta http-equiv="Status" content="([^"]*)"'


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _case(col: str, pairs, default: str) -> str:
    arms = " ".join(f"WHEN {_sql_str(k)} THEN {_sql_str(v)}" for k, v in pairs)
    return f"CASE {col} {arms} ELSE {default} END"


def pages_errors(pages_dir: str, out_dir: str, cfg: PipelineConfig = PipelineConfig()) -> List[str]:
    """The routed sink and the four aggregate tables of one ``run_pipeline``
    must equal a DuckDB recount over the input pages."""
    con = duckdb.connect()
    status_keys = ", ".join(_sql_str(k) for k, _ in cfg.status_dict)
    con.execute(
        f"""CREATE TEMP VIEW expected AS
        WITH src AS (
          SELECT url, lang, regexp_extract(decode(html), {_sql_str(_STATUS_RE)}, 1) AS status
          FROM read_parquet({_sql_str(os.path.join(pages_dir, '*.parquet'))}))
        SELECT url, lang, status,
          CASE WHEN status IN ({status_keys}) THEN 'matched' ELSE 'fallback' END AS route,
          CASE WHEN status IN ({status_keys}) THEN status END AS matched_key,
          {_case('status', cfg.status_dict, _sql_str(cfg.status_fallback))} AS status_text,
          {_case('lang', cfg.lang_dict, 'NULL')} AS lang_name
        FROM src"""
    )
    routed = _sql_str(os.path.join(out_dir, "routed", "**", "*.parquet"))
    con.execute(
        f"CREATE TEMP VIEW routed AS SELECT * FROM read_parquet({routed}, hive_partitioning = true)"
    )
    collab = _case("x", cfg.collab_dict, _sql_str(cfg.collab_fallback))
    union = "text"
    for k, v in cfg.union_dict:
        union = f"replace({union}, {_sql_str(k)}, {_sql_str(v)})"
    errors = []
    bad = con.execute(
        f"""SELECT
          count(*) FILTER (WHERE extracted_text IS DISTINCT FROM text),
          count(*) FILTER (WHERE substituted_text IS DISTINCT FROM
                           CASE WHEN {union} <> text THEN {union} END),
          count(*) FILTER (WHERE collaborator_names IS DISTINCT FROM
                           list_transform(collaborator_ids, x -> {collab}))
        FROM routed"""
    ).fetchone()
    for name, n in zip(("extracted_text", "substituted_text", "collaborator_names"), bad):
        if n:
            errors.append(f"routed: {n} rows with a wrong {name}")

    def diff(label: str, got: str, want: str) -> None:
        n = con.execute(
            f"SELECT count(*) FROM (({got} EXCEPT ALL {want}) UNION ALL ({want} EXCEPT ALL {got}))"
        ).fetchone()[0]
        if n:
            errors.append(f"{label}: {n} rows differ from the DuckDB recount")

    diff(
        "routed",
        "SELECT url, route, lang, status, status_text, lang_name, matched_key FROM routed",
        "SELECT url, route, lang, status, status_text, lang_name, matched_key FROM expected",
    )
    agg = lambda name: _sql_str(os.path.join(out_dir, f"agg_{name}", "*.parquet"))  # noqa: E731
    diff(
        "agg_route_counts",
        f"SELECT route, cnt FROM read_parquet({agg('route_counts')})",
        "SELECT route, count(*) FROM expected GROUP BY ALL",
    )
    diff(
        "agg_route_lang_counts",
        f"SELECT route, lang, cnt FROM read_parquet({agg('route_lang_counts')})",
        "SELECT route, lang, count(*) FROM expected GROUP BY ALL",
    )
    diff(
        "agg_per_key_histogram",
        f"SELECT route, matched_key, cnt FROM read_parquet({agg('per_key_histogram')})",
        "SELECT route, matched_key, count(*) FROM expected GROUP BY ALL",
    )
    diff(
        "agg_per_lang_hits",
        f"SELECT lang, hits FROM read_parquet({agg('per_lang_hits')})",
        "SELECT lang, count(*) FROM expected WHERE route = 'matched' GROUP BY ALL",
    )
    con.close()
    return errors


# -- plain-Python dictionaries --------------------------------------------------


def read_csv(path: str) -> Dict[str, str]:
    with open(path, newline="", encoding="utf-8") as fh:
        return {k: v for k, v in csv.reader(fh)}


def read_json(path: str) -> Dict[str, str]:
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def read_yaml(path: str) -> Dict[str, str]:
    with open(path, encoding="utf-8") as fh:
        data = yaml.load(fh, Loader=getattr(yaml, "CSafeLoader", yaml.SafeLoader))
    return {str(k): v for k, v in data.items()}


def regex_first_match(table: List[Tuple[re.Pattern, str]], s: str) -> str:
    for pat, value in table:
        if pat.search(s):
            return value
    return MISS


def regex_first_matches(table: List[Tuple[re.Pattern, str]], strings: List[str]) -> Dict[str, str]:
    """``regex_first_match`` for many strings: one vectorized pass per
    pattern, in dictionary order."""
    import pandas as pd

    s = pd.Series(strings, dtype=object)
    out = pd.Series(MISS, index=s.index, dtype=object)
    todo = pd.Series(True, index=s.index)
    for pat, value in table:
        hit = s[todo].str.contains(pat, regex=True)
        hit = hit[hit].index
        out[hit] = value
        todo[hit] = False
    return dict(zip(strings, out))


def pairs_errors(label: str, pairs: Iterable[Tuple[str, str]], expect) -> List[str]:
    """``pairs``: distinct (key, output value) from a run; ``expect(key)``
    gives the right value. Reports how many keys came out wrong."""
    wrong = [(k, v) for k, v in pairs if v != expect(k)]
    if not wrong:
        return []
    k, v = wrong[0]
    return [f"{label}: {len(wrong)} keys wrong, e.g. {k!r} -> {v!r}, want {expect(k)!r}"]


def lookup_errors(lookup_dir: str, got: Dict[str, Iterable[Tuple[str, str]]]) -> List[str]:
    """``got`` maps each dictionary (small, big, tags, regex) to the
    distinct (key, value) pairs one lookup_heavy job produced."""
    small = read_csv(os.path.join(lookup_dir, "small.csv"))
    big = read_json(os.path.join(lookup_dir, "big.json"))
    tags = read_yaml(os.path.join(lookup_dir, "tags.yml"))
    with open(os.path.join(lookup_dir, "regex.csv"), newline="", encoding="utf-8") as fh:
        table = [(re.compile(p), v) for p, v in csv.reader(fh)]
    regex = regex_first_matches(table, sorted({k for k, _ in got.get("regex", ())}))
    expect = {
        "small": lambda k: small.get(k, MISS),
        "big": lambda k: big.get(k, MISS),
        "tags": lambda k: tags.get(k, MISS),
        "regex": regex.get,
    }
    errors = []
    for name, fn in expect.items():
        pairs = list(got.get(name, ()))
        if not pairs:
            errors.append(f"{name}: no output collected")
        errors += pairs_errors(name, pairs, fn)
    return errors
