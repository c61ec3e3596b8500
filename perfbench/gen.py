"""Seeded input generator for the benchmark (runs without Spark).

Usage:
  python3 perfbench/gen.py --seed N --out DIR [--workload NAME|all]

Writes, under DIR:
  pages/            pages corpus (PAGES_FILES parquet files), the schema and
                    html template of plans/pages.py, so extract_text(html)
                    == text holds byte for byte
  pages_quarter/    the first quarter of those files (weak-scaling input)
  lookup/           Zipf-keyed narrow events + four dictionaries (CSV, JSON,
                    YAML, and a regex table in CSV) + the update sequence of
                    the JSON one (big_v1.json ..., REFRESH_CHANGE of the
                    values rewritten per version)
  manifest.json     sizes, seed and a sha256 of every file written

The same seed gives byte-identical files; the seed feeds every random draw
(numpy PCG64 seeded with [seed, stream]), so another seed gives other rows.
Only the template constants are taken from the package.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from logstash_filter_translate_spark.plans import pages as T  # noqa: E402

WORKLOADS = ("pages_e2e", "lookup_heavy")

PAGES_ROWS = 64_000
PAGES_FILES = 8

LOOKUP_ROWS = 96_000
LOOKUP_FILES = 8
SMALL_KEYS = 256  # exact, map-literal plane (<= 512 entries)
BIG_KEYS = 20_000  # exact, broadcast-join plane
ITER_KEYS = 4_000  # iterate_on over arrays, explode plane
REGEX_PATTERNS = 64  # regex first-match, pandas-UDF plane
ZIPF_S = 0.9

REFRESH_VERSIONS = 4  # updates of the JSON dictionary, for the refresh layer
REFRESH_CHANGE = 0.10  # share of values rewritten per version

# one independent random stream per input, all derived from the seed
_STREAMS = {"pages": 1, "lookup": 2}


def _rng(seed: int, name: str, sub: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, _STREAMS[name], sub])


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _zipf_ranks(rng: np.random.Generator, space: int, n: int) -> np.ndarray:
    """Ranks in [0, space) drawn with P(r) proportional to 1/(r+1)^ZIPF_S."""
    w = 1.0 / np.arange(1, space + 1, dtype=np.float64) ** ZIPF_S
    return rng.choice(space, size=n, p=w / w.sum())


# -- pages -------------------------------------------------------------------


def pages_table(seed: int, start: int, n: int) -> pa.Table:
    rng = _rng(seed, "pages", start)
    ids = np.arange(start, start + n)
    host = rng.integers(0, len(T.HOSTS), n)
    tld = rng.integers(0, len(T.TLDS), n)
    status = rng.integers(0, len(T.STATUSES), n)
    lang_mix = rng.integers(0, 100, n)
    n_words = rng.integers(5, 51, n)
    word_idx = rng.integers(0, len(T.WORDS), int(n_words.sum()))
    union_rows = rng.random(n) < 1 / 97
    n_collab = rng.integers(0, 7, n)
    collab_idx = rng.integers(0, len(T.COLLAB_POOL), int(n_collab.sum()))
    jitter = rng.integers(0, 17, n)

    def lang_of(m: int) -> str:
        for cut, code in T.LANG_CUTS:
            if m < cut:
                return code
        return "xx-unknown"

    urls, texts, langs, htmls, collab_ids = [], [], [], [], []
    w = c = 0
    for j in range(n):
        words = " ".join(T.WORDS[x] for x in word_idx[w : w + n_words[j]])
        w += n_words[j]
        text = words + " 200 & 500" if union_rows[j] else words
        lang = lang_of(int(lang_mix[j]))
        st = T.STATUSES[status[j]]
        urls.append(
            f"https://{T.HOSTS[host[j]]}.example.{T.TLDS[tld[j]]}/p/{ids[j]}"
        )
        texts.append(text)
        langs.append(lang)
        htmls.append(
            (
                T.HTML_PREFIX + st + T.HTML_MID1 + lang + T.HTML_MID2 + text
                + T.HTML_SUFFIX
            ).encode("utf-8")
        )
        collab_ids.append(
            [T.COLLAB_POOL[x] for x in collab_idx[c : c + n_collab[j]]]
        )
        c += n_collab[j]
    ts = (T.EPOCH_2026 + ids * 17 + jitter) * 1_000_000
    return pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "html": pa.array(htmls, pa.binary()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "collaborator_ids": pa.array(collab_ids, pa.list_(pa.string())),
            "collaborators": pa.array(
                [[{"collaborator_id": x} for x in ids_] for ids_ in collab_ids],
                pa.list_(pa.struct([("collaborator_id", pa.string())])),
            ),
        }
    )


def gen_pages(seed: int, out: str) -> None:
    per = PAGES_ROWS // PAGES_FILES
    for f in range(PAGES_FILES):
        t = pages_table(seed, f * per, per)
        _write(t, os.path.join(out, "pages", f"part-{f:02d}.parquet"))
        if f < PAGES_FILES // 4:
            _write(t, os.path.join(out, "pages_quarter", f"part-{f:02d}.parquet"))


# -- lookup_heavy ------------------------------------------------------------


def _keyspace(rng: np.random.Generator, prefix: str, n_dict: int, width: int):
    """Key names for a Zipf space twice the dictionary: rank r is in the
    dictionary iff r is even, so about half of all draws hit."""
    names = [f"{prefix}{i:0{width}d}" for i in rng.permutation(2 * n_dict)]
    return names, [names[r] for r in range(0, 2 * n_dict, 2)]


def regex_table(rng: np.random.Generator):
    """(patterns in dictionary order, code space): pattern j matches code
    2j under either prefix; the messages draw codes over twice that."""
    codes = rng.permutation(REGEX_PATTERNS)
    return [
        (rf"\b(?:code|err)-{2 * int(c):03d}\b", f"R{int(c):02d}") for c in codes
    ], 2 * REGEX_PATTERNS


def gen_lookup(seed: int, out: str) -> None:
    rng = _rng(seed, "lookup")
    small_names, small_keys = _keyspace(rng, "s", SMALL_KEYS, 4)
    big_names, big_keys = _keyspace(rng, "b", BIG_KEYS, 6)
    iter_names, iter_keys = _keyspace(rng, "t", ITER_KEYS, 5)
    patterns, code_space = regex_table(rng)
    d = os.path.join(out, "lookup")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "small.csv"), "w", encoding="utf-8") as fh:
        fh.writelines(f"{k},S-{k}\n" for k in small_keys)
    big = {k: f"B-{k}" for k in big_keys}
    with open(os.path.join(d, "big.json"), "w", encoding="utf-8") as fh:
        json.dump(big, fh)
    for v in range(1, REFRESH_VERSIONS + 1):
        for i in rng.choice(len(big_keys), size=int(len(big_keys) * REFRESH_CHANGE), replace=False):
            big[big_keys[i]] = f"B-{big_keys[i]}-v{v}"
        with open(os.path.join(d, f"big_v{v}.json"), "w", encoding="utf-8") as fh:
            json.dump(big, fh)
    with open(os.path.join(d, "tags.yml"), "w", encoding="utf-8") as fh:
        fh.writelines(f'"{k}": "T-{k}"\n' for k in iter_keys)
    with open(os.path.join(d, "regex.csv"), "w", encoding="utf-8") as fh:
        fh.writelines(f"{p},{v}\n" for p, v in patterns)

    per = LOOKUP_ROWS // LOOKUP_FILES
    for f in range(LOOKUP_FILES):
        r = _rng(seed, "lookup", 1 + f)
        small_r = _zipf_ranks(r, 2 * SMALL_KEYS, per)
        big_r = _zipf_ranks(r, 2 * BIG_KEYS, per)
        n_tags = r.integers(0, 7, per)
        tags = _zipf_ranks(r, 2 * ITER_KEYS, int(n_tags.sum()))
        code1 = _zipf_ranks(r, code_space, per)
        code2 = r.integers(0, code_space, per)
        two = r.random(per) < 0.3
        prefix = r.integers(0, 2, per)
        msgs, tag_lists, t = [], [], 0
        for j in range(per):
            p = ("code", "err")[prefix[j]]
            m = f"svc{j % 7} op {p}-{code1[j]:03d} done"
            if two[j]:
                m += f" retry err-{code2[j]:03d}"
            msgs.append(m)
            tag_lists.append([iter_names[x] for x in tags[t : t + n_tags[j]]])
            t += n_tags[j]
        table = pa.table(
            {
                "event_id": pa.array(np.arange(f * per, (f + 1) * per), pa.int64()),
                "k_small": pa.array([small_names[x] for x in small_r], pa.string()),
                "k_big": pa.array([big_names[x] for x in big_r], pa.string()),
                "tags": pa.array(tag_lists, pa.list_(pa.string())),
                "msg": pa.array(msgs, pa.string()),
            }
        )
        _write(table, os.path.join(d, "events", f"part-{f:02d}.parquet"))


# -- entry point --------------------------------------------------------------


def digest_tree(root: str) -> dict:
    out = {}
    for base, dirs, files in os.walk(root):
        dirs.sort()
        for name in sorted(files):
            if name == "manifest.json":
                continue
            p = os.path.join(base, name)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def generate(seed: int, out: str, workload: str = "all") -> dict:
    os.makedirs(out, exist_ok=True)
    todo = WORKLOADS if workload == "all" else (workload,)
    if "pages_e2e" in todo:
        gen_pages(seed, out)
    if "lookup_heavy" in todo:
        gen_lookup(seed, out)
    manifest = {
        "seed": seed,
        "workloads": list(todo),
        "pages_rows": PAGES_ROWS,
        "lookup_rows": LOOKUP_ROWS,
        "files": digest_tree(out),
    }
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload", default="all", choices=("all",) + WORKLOADS)
    a = ap.parse_args()
    m = generate(a.seed, a.out, a.workload)
    print(json.dumps({"files": len(m["files"])}))


if __name__ == "__main__":
    main()
