#!/usr/bin/env python3
"""Assert scale-sweep BENCH artifacts cover the whole batch registry.

Usage: sweep_check.py [--allow-designated] <registry.txt> <bench.json> [...]

<registry.txt> is `graft.Run list` output (one row name per line).
Every non-`xs_` registry row must appear in each bench JSON's "queries"
map with no entry in its "failed" list; exits 1 (loudly, with the set
difference) otherwise. Extra rows in the JSON (stream_* cases when
streaming was on) are reported but not errors.

DESIGNATED-QUADRATIC fixtures (r15): the two nlist-8 oracle-continuity
fixtures are quadratic BY DESIGNATION and cost ~205 s of the 592 s sf1
sweep. A sweep may skip them via SPARK_GRAFT_BENCH_SKIP — but ONLY the
rows in DESIGNATED, only under --allow-designated, only when the bench
recorded the skip in its "skipped" field, and only when each skipped
row's bounded stand-in is present and green. Everything else missing is
still an error: a skip can never silently shrink sweep coverage.

Exists because the r13 sweep was snapshotted before three rows landed,
and the gap was only caught by the round judge — a sweep that doesn't
cover the registry should fail at sweep time, not review time.
"""
import json
import sys

# designated-quadratic row -> its bounded-corpus stand-in
# r16 additions: the two pinned-plane oracle-continuity anchors and the
# steered mid-tier auto form (x36.6 / x30.2 / x12.6 at x10, 1,086 s
# measured for the auto form at sf10) — quadratic-per-bucket by
# designation, default dispatch bypasses all three (DESIGN.md standing
# triage); their capped twins keep the fixture algebra value-checked.
DESIGNATED = {
    "x_ivf_knn_join": "x_ivf_knn_join_capped",
    "x_ivf_knn_join_pinned": "x_ivf_knn_join_pinned_capped",
    "x_knn_join": "x_knn_join_capped",
    "x_knn_join_auto": "x_knn_join_auto_capped",
    "x_semantic_dedup": "x_semantic_dedup_capped",
}


def main():
    args = sys.argv[1:]
    allow_designated = "--allow-designated" in args
    args = [a for a in args if a != "--allow-designated"]
    if len(args) < 2:
        print(__doc__)
        sys.exit(2)
    names = [ln.strip() for ln in open(args[0]) if ln.strip()]
    want = {n for n in names if not n.startswith("xs_")}
    rc = 0
    for path in args[1:]:
        d = json.load(open(path))
        have = set(d.get("queries", {}))
        skipped = set(d.get("skipped", []))
        missing = sorted(want - have)
        designated_ok = []
        if allow_designated:
            for row in list(missing):
                stand_in = DESIGNATED.get(row)
                ok = (row in skipped and stand_in in have
                      and d["queries"].get(stand_in, -1) >= 0)
                if ok:
                    missing.remove(row)
                    designated_ok.append(row)
        failed = sorted(set(d.get("failed", [])) & want) or sorted(d.get("failed", []))
        if missing:
            print(f"{path}: MISSING {len(missing)} registry rows: {missing}")
            rc = 1
        if failed:
            print(f"{path}: FAILED rows: {failed}")
            rc = 1
        if not missing and not failed:
            extra = sorted(have - want)
            note = f" (+{len(extra)} non-registry rows)" if extra else ""
            if designated_ok:
                note += (f" ({len(designated_ok)} designated-quadratic skipped, "
                         f"stand-ins green: {designated_ok})")
            n = len(want) - len(designated_ok)
            print(f"{path}: complete — {n}/{len(want)} registry rows, 0 failed{note}")
    sys.exit(rc)


if __name__ == "__main__":
    main()
