#!/usr/bin/env python3
"""Render SCALING.md's measurement table from two graft.tools.Scale output
files (driver-side tooling; the library never reads this).

Exponent: b in t = a * sf^b, fit from the two points —
b = log(t_hi/t_lo) / log(sf_hi/sf_lo). Linear scaling gives b=1.0; an
embarrassingly-parallel fixed-overhead query gives b<1; anything much
above 1 on warm runs is a scale flag. Driver-heap growth factor is
reported separately: a driver whose retained heap grows with data size
hides a collect. It reads `driver_retained_mb` (heap in use after a
post-query GC); records from before that field carry only
`driver_peak_mb` (summed pool peaks, garbage included) and fall back to it.

Usage: python3 tools/scaling_report.py <lo.json> <hi.json> <ratio>
"""
import json
import math
import sys


def driver_mb(q):
    return q.get("driver_retained_mb", q.get("driver_peak_mb"))


def main():
    lo = json.load(open(sys.argv[1]))
    hi = json.load(open(sys.argv[2]))
    ratio = float(sys.argv[3])
    lo_q = {q["q"]: q for q in lo["queries"]}
    hi_q = {q["q"]: q for q in hi["queries"]}
    rows = []
    for name, l in lo_q.items():
        h = hi_q.get(name)
        if not h or h["warm_s"] <= 0 or l["warm_s"] <= 0:
            rows.append((name, l, h, None, None, None))
            continue
        b_cold = math.log(h["cold_s"] / l["cold_s"]) / math.log(ratio)
        b_warm = math.log(h["warm_s"] / l["warm_s"]) / math.log(ratio)
        heap = driver_mb(h) / max(driver_mb(l), 1)
        rows.append((name, l, h, b_cold, b_warm, heap))
    print("| query | sf0.1 cold/warm (s) | sf1 cold/warm (s) | exp cold | exp warm | driver-heap × |")
    print("|---|---|---|---|---|---|")
    for name, l, h, bc, bw, heap in rows:
        if bc is None:
            print(f"| {name} | {l['cold_s']:.2f} / {l['warm_s']:.2f} | FAILED | — | — | — |")
            continue
        flag = " ⚠" if bw > 1.15 else ""
        print(f"| {name} | {l['cold_s']:.2f} / {l['warm_s']:.2f} | "
              f"{h['cold_s']:.2f} / {h['warm_s']:.2f} | {bc:.2f} | {bw:.2f}{flag} | {heap:.1f} |")


if __name__ == "__main__":
    main()
