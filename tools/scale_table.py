#!/usr/bin/env python3
"""Render a scaling table from bench/results/<label>_scale_x*.json.

Usage: python3 tools/scale_table.py [label]     (default r5)
"""
import json, os, sys

R = os.path.join(os.path.dirname(__file__), "..", "bench", "results")
label = sys.argv[1] if len(sys.argv) > 1 else "r5"
legs = ["x1", "x10", "x100", "x1000"]
data = {}
for leg in legs:
    p = os.path.join(R, f"{label}_scale_{leg}.json")
    if os.path.exists(p) and os.path.getsize(p) > 0:
        data[leg] = json.load(open(p))

qs = sorted({q for d in data.values() for q in d["queries"]},
            key=lambda q: int(q[1:].split("_")[0]))
cols = [l for l in legs if l in data]


def row(*cells):
    return "| " + " | ".join(cells) + " |"

hdr = row("query", *("×" + l[1:] for l in cols),
          *(f"×{b[1:]}/×{a[1:]}" for a, b in zip(cols, cols[1:])))
print(hdr)
print("|---" * (len(cols) * 2) + "|")
for q in qs:
    vals = [data[l]["queries"].get(q) for l in cols]
    cells = [f"{v:.2f}" if v is not None else "—" for v in vals]
    ratios = []
    for a, b in zip(vals, vals[1:]):
        ratios.append(f"{b/a:.1f}×" if a and b else "—")
    print(row(q, *cells, *ratios))
tot = [data[l]["value"] for l in cols]
tr = [f"{b/a:.1f}×" for a, b in zip(tot, tot[1:])]
print(row("**suite total**", *(f"**{v:.1f}**" for v in tot), *tr))
