#!/usr/bin/env python3
"""Compare two `graft.Run run` logs (same registry, different scale
factors): per-query warm time ratio, sorted worst-first. Warm = last rep.

Usage: scale_ratio.py <small.log> <big.log> [--factor 10]

Rows whose inputs don't scale with the factor (TPC-H pass-through in
ScaleGen output) naturally sit near x1. Corpus-lane queries should sit
at or below the data factor; anything well above it is a scale smell
worth explaining or fixing.
"""
import re, sys

def parse(path):
    # [queryrun] name  rep=N rows=R  T.TTs build=… plan=… exec=… … rdds=K
    rx = re.compile(r"\[queryrun\] (\S+)\s+rep=(\d+) rows=(\d+)\s+([\d.]+)s")
    out = {}
    for line in open(path):
        m = rx.search(line)
        if m:
            name, rep, rows, sec = m.group(1), int(m.group(2)), int(m.group(3)), float(m.group(4))
            out[name] = {"rows": rows, "sec": sec, "rep": rep}  # last rep wins
    return out

def main():
    small, big = parse(sys.argv[1]), parse(sys.argv[2])
    factor = 10.0
    if "--factor" in sys.argv:
        factor = float(sys.argv[sys.argv.index("--factor") + 1])
    rows = []
    for name in sorted(small):
        if name not in big:
            print(f"MISSING in big log: {name}")
            continue
        s, b = small[name], big[name]
        ratio = b["sec"] / s["sec"] if s["sec"] > 0 else float("inf")
        rowratio = b["rows"] / s["rows"] if s["rows"] else float("inf")
        rows.append((ratio, name, s["sec"], b["sec"], rowratio))
    rows.sort(reverse=True)
    print(f"{'query':32s} {'small_s':>8s} {'big_s':>8s} {'t_ratio':>8s} {'out_rows':>9s}")
    flagged = 0
    for ratio, name, ss, bs, rr in rows:
        mark = ""
        if ratio > factor and bs > 1.0:  # ignore sub-second noise
            mark = "  <-- SUPERLINEAR"
            flagged += 1
        print(f"{name:32s} {ss:8.2f} {bs:8.2f} {ratio:7.1f}x {rr:8.1f}x{mark}")
    print(f"\n{flagged} queries above x{factor:.0f} time with big-side > 1s")

if __name__ == "__main__":
    main()
