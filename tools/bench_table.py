#!/usr/bin/env python3
"""Side-by-side table of Bench recordings (BENCH_FULL.json form).

Usage: python3 tools/bench_table.py A.json B.json [C.json ...]

Prints, for every query present in all files (slowest in A first), its
seconds in each file and each later file's ratio to A (file / A); then
each file's total, its geomean ratio to A over those rows, and the rows
that got slower than in A. Queries present in only some files, and each
file's recorded errors, are listed below the table.
"""
import json
import math
import os
import sys

if len(sys.argv) < 3:
    sys.exit(__doc__)
runs = [json.load(open(p)) for p in sys.argv[1:]]
names = [os.path.splitext(os.path.basename(p))[0] for p in sys.argv[1:]]
qs = [r["queries"] for r in runs]
common = sorted(set.intersection(*map(set, qs)), key=lambda k: (-qs[0][k], k))

w = max([len(k) for k in common] + [5])
head = f"{'query':{w}s}" + "".join(f" {n[:12]:>12s}" for n in names)
head += "".join(f" {('/' + names[0])[:9]:>9s}" for _ in names[1:])
print(head)
for k in common:
    a = qs[0][k]
    line = f"{k:{w}s}" + "".join(f" {q[k]:12.3f}" for q in qs)
    line += "".join(f" {q[k] / a:9.2f}" if a > 0 else f" {'-':>9s}" for q in qs[1:])
    print(line)

print()
for n, q in zip(names, qs):
    print(f"total {n}: {sum(q[k] for k in common):.1f} s over {len(common)} rows")
for n, q in zip(names[1:], qs[1:]):
    rs = [q[k] / qs[0][k] for k in common if qs[0][k] > 0 and q[k] > 0]
    geo = math.exp(sum(map(math.log, rs)) / len(rs)) if rs else float("nan")
    slower = [k for k in common if q[k] > qs[0][k]]
    print(f"geomean {n}/{names[0]}: {geo:.2f} over {len(rs)} rows")
    print(f"slower in {n} ({len(slower)}): {', '.join(slower) or 'none'}")
for n, q, r in zip(names, qs, runs):
    only = sorted(set(q) - set(common))
    if only:
        print(f"not in every file, {n}: {', '.join(only)}")
    if r.get("errors"):
        print(f"errors {n}: {r['errors']}")
