#!/usr/bin/env python3
"""Compare two `graft.Explain` dumps query by query.

Usage: python3 tools/plan_diff.py BEFORE AFTER

Splits each dump on its `========== <query> ==========` headers, normalizes
expression ids (`#123L`), RDD and plan ids, object hashes and lambda addresses
(`@1a2b3c`), `.scala:<line>` numbers and the per-run fixture temp dir
(`graft_fixtures_<n>`), drops sbt prefixes and Spark log
lines, and prints `same` or a unified diff per query. Exits 1 if any differs.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^={10} (\S+) ={10}$")
LOG_LINE = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d (INFO|WARN|ERROR|DEBUG) ")
NOISE = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\$Lambda\$?\d*/0x[0-9a-f]+"), "$Lambda"),
    (re.compile(r"@[0-9a-f]{4,}"), "@H"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
    (re.compile(r"graft_fixtures_\d+"), "graft_fixtures_N"),
]


def sections(path):
    out, cur = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = re.sub(r"^\[(info|warn|error)\] ", "", raw.rstrip("\n"))
            m = HEADER.match(line.strip())
            if m:
                cur = out.setdefault(m.group(1), [])
            elif cur is not None and not LOG_LINE.match(line) \
                    and not line.startswith("[success]") and line.strip():
                for pat, rep in NOISE:
                    line = pat.sub(rep, line)
                cur.append(line)
    return out


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__.strip().splitlines()[2])
    before, after = sections(sys.argv[1]), sections(sys.argv[2])
    differs = False
    for q in list(before) + [q for q in after if q not in before]:
        if q not in before or q not in after:
            print(f"{q}: only in {'AFTER' if q in after else 'BEFORE'}")
        elif before[q] == after[q]:
            print(f"{q}: same")
            continue
        else:
            print(f"{q}: differs")
            print("\n".join(difflib.unified_diff(
                before[q], after[q], "BEFORE/" + q, "AFTER/" + q, lineterm="")))
        differs = True
    sys.exit(1 if differs else 0)


if __name__ == "__main__":
    main()
