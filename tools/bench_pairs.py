"""Paired benchmark runs of two checkouts, and the verdict of the gain rule.

    python3 tools/bench_pairs.py <parentDir> <changeDir> --workload iiot_batch \
        --pairs 10 --seed0 3001 [--save pairs.json]
    python3 tools/bench_pairs.py --load pairs.json      # re-summarize saved runs

Pair i runs ``iiotbench/run.py --seed <seed0+i>`` in both checkouts, one
after the other, for the ``run_seconds`` that each checkout's
BENCHMARK.json sets; the parent goes first in even pairs and second in
odd ones, so a drift of the host charges both sides alike. Each run's
last stdout line is the benchmark's result object. The summary prints
every pair's ``cpu_s`` and ``setup_s``, each side's median and
quartiles, the pairs the change won on ``cpu_s`` (lower is better), and
the verdict of the rule a claimed gain must meet: the change wins at
least 9 of every 10 pairs run (a pair where either side has no
``cpu_s`` is not a win), its median beats the parent's by more than the
parent's interquartile range, and it fails no larger share of
operations than the parent.
"""
import argparse
import json
import math
import statistics
import subprocess
import sys
from pathlib import Path

METRICS = ("cpu_s", "setup_s")
CLAIMED = "cpu_s"


def run_once(checkout, workload, seed):
    """One benchmark run in `checkout`, as long as its BENCHMARK.json
    sets; returns the run's result object."""
    seconds = json.loads((Path(checkout) / "BENCHMARK.json").read_text())["run_seconds"]
    cmd = [sys.executable, "iiotbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or not lines:
        return {"correct": False, "attempted": 0, "failed": 0, "metrics": {},
                "error": f"exit {p.returncode}: {p.stderr.strip()[-300:]}"}
    return json.loads(lines[-1])


def value(result, metric):
    m = result.get("metrics", {}).get(metric)
    return None if m is None else m["value"]


def quartiles(xs):
    """(q1, median, q3), inclusive method; a single value is all three."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def failed_share(pairs, side):
    """(failed, attempted) operations of `side` over all pairs."""
    attempted = sum(p[side].get("attempted", 0) for p in pairs)
    failed = sum(p[side].get("failed", 0) for p in pairs)
    return failed, attempted


def summarize(pairs, metric=CLAIMED):
    """Summary of `pairs` (dicts with seed, parent and change results) on
    `metric`: medians and quartiles of the runs that measured it, the wins
    out of all pairs run, and the verdict of the gain rule."""
    par = [v for v in (value(p["parent"], metric) for p in pairs) if v is not None]
    chg = [v for v in (value(p["change"], metric) for p in pairs) if v is not None]
    if not par or not chg:
        return {"metric": metric, "pairs": len(pairs), "wins": 0, "verdict": False,
                "reason": "a side never measured the metric"}
    pq, cq = quartiles(par), quartiles(chg)
    wins = 0
    for p in pairs:
        pv, cv = value(p["parent"], metric), value(p["change"], metric)
        wins += pv is not None and cv is not None and cv < pv
    need = math.ceil(0.9 * len(pairs))
    iqr = pq[2] - pq[0]
    gap = pq[1] - cq[1]
    pf, pa = failed_share(pairs, "parent")
    cf, ca = failed_share(pairs, "change")
    # a larger failed share: cf/ca > pf/pa, compared without dividing
    fails_more = cf * max(pa, 1) > pf * max(ca, 1)
    ok = wins >= need and gap > iqr and not fails_more
    return {"metric": metric, "pairs": len(pairs), "wins": wins, "wins_needed": need,
            "parent": pq, "change": cq, "parent_iqr": iqr, "median_gap": gap,
            "verdict": ok,
            "reason": (f"{wins}/{len(pairs)} wins (need {need}), median gap {gap:.3f} "
                       f"{'>' if gap > iqr else '<='} parent IQR {iqr:.3f}, failed "
                       f"{cf}/{ca} vs parent {pf}/{pa}"
                       f"{' (larger share)' if fails_more else ''}")}


def fmt(v):
    return "-" if v is None else f"{v:.3f}"


def report(pairs):
    print("pair seed  first   " + "  ".join(f"parent {m:>8} change {m:>8}" for m in METRICS))
    for i, p in enumerate(pairs):
        cells = "  ".join(f"{fmt(value(p['parent'], m)):>15} {fmt(value(p['change'], m)):>15}"
                          for m in METRICS)
        print(f"{i:>4} {p['seed']:>5} {p['first']:<7} {cells}")
    for m in METRICS:
        s = summarize(pairs, m)
        if "parent" in s:
            print(f"{m}: parent median {s['parent'][1]:.3f} (q1 {s['parent'][0]:.3f}, "
                  f"q3 {s['parent'][2]:.3f}); change median {s['change'][1]:.3f} "
                  f"(q1 {s['change'][0]:.3f}, q3 {s['change'][2]:.3f}); "
                  f"change lower in {s['wins']} of {s['pairs']}")
    for side in ("parent", "change"):
        f, a = failed_share(pairs, side)
        print(f"{side}: {f} of {a} operations failed; "
              f"{sum(not p[side].get('correct', False) for p in pairs)} runs not correct")
    s = summarize(pairs)
    print(f"verdict on {CLAIMED}: {'GAIN' if s['verdict'] else 'NO GAIN'} ({s['reason']})")
    return s


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent", nargs="?")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--workload")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--save", help="write the raw pairs as JSON")
    ap.add_argument("--load", help="summarize pairs saved by --save instead of running")
    a = ap.parse_args(argv)
    if a.load:
        pairs = json.loads(Path(a.load).read_text())
    else:
        if not (a.parent and a.change and a.workload):
            ap.error("parentDir, changeDir and --workload are required unless --load is given")
        pairs = []
        for i in range(a.pairs):
            seed = a.seed0 + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            dirs = {"parent": a.parent, "change": a.change}
            p = {"seed": seed, "first": order[0]}
            for side in order:
                p[side] = run_once(dirs[side], a.workload, seed)
            pairs.append(p)
            print(f"# pair {i} seed {seed}: parent {fmt(value(p['parent'], CLAIMED))} "
                  f"change {fmt(value(p['change'], CLAIMED))}", flush=True)
            if a.save:
                Path(a.save).write_text(json.dumps(pairs, indent=1))
    s = report(pairs)
    return 0 if "parent" in s else 1


if __name__ == "__main__":
    sys.exit(main())
