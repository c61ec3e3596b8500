"""Normalized physical-plan fingerprints per contract query.

Host timing noise makes time-based regression detection useless here
(two runs of one tree can differ by more than a real regression) — so
the invariant guarded is that a contract query's physical plan changes
only when a change means it to. Each tree records a digest of every
contract query's PHYSICAL PLAN SHAPE: operator node names in tree order,
join strategies/sides, and exchange distribution kinds, with expression
IDs / paths / statistics / partition counts normalized away. A changed
digest flags a real plan regression regardless of timing.

Usage:
  python tools/planfingerprint.py [sf_dir] [out.json]
      → computes fingerprints (default sf_dir /root/testdata/sf0.001 —
        the same input the checked-in baseline uses) and writes JSON to
        out.json (default stdout).

Baseline: tests/plan_digests.json (regenerate with this tool after an
INTENTIONAL plan change and say why in the commit);
tests/test_plan_digests.py diffs current plans against it on every run;
that baseline is the one record of plan shapes.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from logstash_filter_translate_spark.plans import queries as Q  # noqa: E402

#: queries with no pre-execution plan to fingerprint, with the reason the
#: baseline records for them
SKIP = dict.fromkeys(
    Q.RUN_AT_BUILD, "executes a streaming microbatch on construction")

_JOIN_WORDS = (
    "Inner", "FullOuter", "LeftOuter", "RightOuter", "LeftAnti",
    "LeftSemi", "Cross", "ExistenceJoin", "BuildRight", "BuildLeft",
)


def normalize_plan(plan: str) -> list:
    """Physical-plan toString → ordered list of normalized node labels."""
    nodes = []
    for raw in plan.splitlines():
        # strip tree-drawing prefix and the WholeStageCodegen star id
        ln = re.sub(r"^[\s:+\-]*", "", raw)
        ln = re.sub(r"^\*\(\d+\)\s*", "", ln)
        m = re.match(r"([A-Za-z][A-Za-z0-9]*)", ln)
        if not m:
            continue
        name = m.group(1)
        extra = []
        if "Join" in name:
            extra = [w for w in _JOIN_WORDS if re.search(rf"\b{w}\b", ln)]
        elif name == "Exchange":
            for kind in ("hashpartitioning", "rangepartitioning",
                         "SinglePartition", "RoundRobinPartitioning"):
                if kind in ln:
                    extra = [kind]
                    break
        elif name in ("HashAggregate", "ObjectHashAggregate",
                      "SortAggregate"):
            # partial vs final matters (map-side combine is a plan property)
            for mode in ("partial_", "finalmerge", "merge_"):
                if mode in ln:
                    extra = [mode.rstrip("_")]
                    break
        nodes.append(" ".join([name] + extra))
    return nodes


def fingerprint_df(df) -> dict:
    plan = df._jdf.queryExecution().executedPlan().toString()
    nodes = normalize_plan(plan)
    return {
        "digest": hashlib.md5("\n".join(nodes).encode()).hexdigest(),
        "nodes": nodes,
    }


def fingerprints(spark, sf_dir: str) -> dict:
    out = {}
    for name, fn in Q.ALL_QUERIES.items():
        if name in SKIP:
            out[name] = {"skipped": SKIP[name]}
            continue
        try:
            out[name] = fingerprint_df(fn(spark, sf_dir))
        except Exception as exc:  # a broken query must not hide the rest
            out[name] = {"error": f"{type(exc).__name__}: {exc}"[:300]}
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_path = sys.argv[2] if len(sys.argv) > 2 else None
    from logstash_filter_translate_spark.session import build_session

    # same session shape as tests/conftest.py — digests must be comparable
    # between this tool (baseline regeneration) and the pytest guard
    spark = build_session(
        app_name="lfts-planfp", master="local[4]", shuffle_partitions=4
    )
    fp = fingerprints(spark, sf_dir)
    spark.stop()
    payload = {"sf_dir": sf_dir, "queries": fp}
    if out_path:
        with open(out_path, "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
        print(f"wrote {out_path} ({len(fp)} queries)", file=sys.stderr)
    else:
        print(json.dumps(payload, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
