"""Plan-fingerprint regression guard: a contract query's physical plan
changes only when a change means it to.

Host timing noise makes time-based regression detection useless in this
sandbox, so every contract query's physical-plan SHAPE is digested
(normalized node list: operators, join strategies, exchange kinds,
aggregate modes — tools/planfingerprint.py) and diffed against the
checked-in baseline. A digest change means a REAL plan change: if it was
intentional, regenerate the baseline and say why in the commit —

    python tools/planfingerprint.py /root/testdata/sf0.001 \
        tests/plan_digests.json
"""

import difflib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.planfingerprint import SKIP, fingerprints  # noqa: E402

BASELINE = os.path.join(os.path.dirname(__file__), "plan_digests.json")


def test_contract_query_plans_match_checked_in_digests(spark, testdata_dir):
    with open(BASELINE) as fh:
        base = json.load(fh)
    assert base["sf_dir"] == testdata_dir, (
        "baseline was generated against a different input dir — digests "
        "are only comparable at the same scale (broadcast thresholds)"
    )
    current = fingerprints(spark, testdata_dir)
    baseq = base["queries"]
    # coverage: every contract query has a baseline row and vice versa
    assert set(current) == set(baseq), (
        set(current) ^ set(baseq),
        "query set changed — regenerate tests/plan_digests.json",
    )
    problems = []
    for name, cur in current.items():
        if name in SKIP:
            continue
        old = baseq[name]
        if "error" in cur:
            problems.append(f"{name}: now errors: {cur['error']}")
            continue
        if old.get("digest") == cur["digest"]:
            continue
        diff = "\n".join(
            difflib.unified_diff(
                old.get("nodes", []), cur["nodes"],
                "baseline", "current", lineterm="", n=1,
            )
        )
        problems.append(f"{name}: plan shape changed:\n{diff}")
    assert not problems, (
        "physical plan regressions (regenerate the baseline ONLY if "
        "intentional):\n\n" + "\n\n".join(problems)
    )
