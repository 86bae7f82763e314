#!/usr/bin/env python3
"""Fit per-query scaling exponents from graft.CorpusScale output lines.

Input: one or more log files containing lines like
    [c13-scale] 10x q_graph_linkpred: 12.34 s (11.90,12.34)
Output: a markdown table (query, time per factor, fitted exponent over
the top decade and over the full range via log-log least squares).

Usage: python3 tools/fit_exponents.py LOG [LOG...]
"""
import math
import re
import sys
from collections import defaultdict

LINE = re.compile(r"\[c13-scale\] (\d+)x (q_\w+): ([0-9.]+) s")


def main():
    times = defaultdict(dict)  # query -> factor -> seconds
    for path in sys.argv[1:]:
        with open(path) as f:
            for m in LINE.finditer(f.read()):
                times[m.group(2)][int(m.group(1))] = float(m.group(3))
    factors = sorted({f for q in times.values() for f in q})
    header = "| query | " + " | ".join(f"{f}x" for f in factors) + \
        " | exp (top decade) | exp (lsq) |"
    print(header)
    print("|" + "---|" * (len(factors) + 3))
    for q in sorted(times):
        row = times[q]
        cells = [f"{row[f]:.2f} s" if f in row else "—" for f in factors]
        fs = sorted(row)
        # top decade: slope between the two largest factors
        top = "—"
        if len(fs) >= 2:
            f1, f2 = fs[-2], fs[-1]
            top = f"{math.log(row[f2] / row[f1]) / math.log(f2 / f1):.2f}"
        lsq = "—"
        if len(fs) >= 2:
            xs = [math.log(f) for f in fs]
            ys = [math.log(row[f]) for f in fs]
            n = len(xs)
            mx, my = sum(xs) / n, sum(ys) / n
            denom = sum((x - mx) ** 2 for x in xs)
            if denom > 0:
                lsq = f"{sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom:.2f}"
        print(f"| {q} | " + " | ".join(cells) + f" | {top} | {lsq} |")


if __name__ == "__main__":
    main()
