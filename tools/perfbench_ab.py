#!/usr/bin/env python3
"""Paired A/B comparison of two git revisions on the step-2 pipeline benchmark.

Usage, from the repository root:

    python3 tools/perfbench_ab.py PARENT CHANGE --pairs 10 [--workload project_batch]
        [--seed0 901] [--log ab.jsonl]

PARENT and CHANGE are git revisions. Each is checked out with
`git worktree add --detach` under .bench_build/ab, and both worktrees are
removed at the end. Each pair runs the unchanged `perfbench/run.py` of both checkouts,
untraced (`--trace 0`) for BENCHMARK.json's `run_seconds`, on the same seed
(seed0 + pair index), alternating which side runs first; with several
workloads, every pair runs each of them in turn. Every run's result object is
appended to --log as one JSON line.

At the end it prints, per workload and metric, each side's median and quartiles
and the change's win share over all pairs run: a pair where the change's run is
not correct, has failures or lacks the metric is not a win, and ties count for
neither side. The gain rule holds when the change wins at least 9/10 of the
pairs, the medians differ by more than the parent's interquartile range, and the
change has no more failed runs than the parent. Beside it, the no-regression
verdict: `regressed` when the change's median is worse than the parent's by more
than the metric's `bound` (a fraction of the parent median), `unresolved` when
the parent's spread ((Q3-Q1)/median) exceeds that bound, unless every change run
beats every parent run, else `ok`. Metric directions and bounds come from
BENCHMARK.json (end_to_end) in the change's checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HEADLINE = ("setup_s", "project_p50_s", "samples_per_s")  # printed per run


WORKDIR = os.path.join(".bench_build", "ab")


def worktree(rev, name):
    path = os.path.abspath(os.path.join(WORKDIR, name))
    subprocess.run(["git", "worktree", "add", "--detach", path, rev], check=True)
    return path


def run_once(root, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
        result = {"correct": False, "failed": None, "metrics": {}}
    result["returncode"] = p.returncode
    return result


def ok(result):
    return result.get("correct") is True and result.get("failed") == 0


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(parent, change, up, bound):
    """No-regression verdict of one metric: 'ok', 'regressed' or 'unresolved'."""
    if (min(change) > max(parent)) if up else (max(change) < min(parent)):
        return "ok"
    pq1, pmed, pq3 = quartiles(parent)
    if (pq3 - pq1) / pmed > bound:
        return "unresolved"
    cmed = quartiles(change)[1]
    worse = pmed - cmed if up else cmed - pmed
    return "regressed" if worse > bound * pmed else "ok"


def report(runs, metrics, pairs):
    """runs: {workload: [(pair, side, result)]}, metrics: {name: (higher is better, bound)}
    -> printed table, one row per metric."""
    for workload, rows in runs.items():
        print(f"\n== {workload} ({pairs} pairs)")
        bad = {s: [p for p, side, r in rows if side == s and not ok(r)] for s in ("parent", "change")}
        print(f"runs not correct or with failures: parent {bad['parent'] or 'none'}, "
              f"change {bad['change'] or 'none'}")
        print(f"{'metric':16} {'parent median [Q1, Q3]':>28} {'change median [Q1, Q3]':>28}"
              f" {'wins':>7} gain-rule no-regression")
        for m, (up, bound) in metrics.items():
            side = {"parent": {}, "change": {}}
            for pair, s, r in rows:
                if ok(r) and m in r["metrics"]:
                    side[s][pair] = r["metrics"][m]["value"]
            if not side["parent"] or not side["change"]:
                continue
            wins = sum(1 for i, c in side["change"].items() if i in side["parent"]
                       and c != side["parent"][i] and (c > side["parent"][i]) == up)
            pq1, pmed, pq3 = quartiles(list(side["parent"].values()))
            cq1, cmed, cq3 = quartiles(list(side["change"].values()))
            gain = (cmed > pmed) == up and abs(cmed - pmed) > (pq3 - pq1)
            holds = gain and wins >= 0.9 * pairs and len(bad["change"]) <= len(bad["parent"])
            print(f"{m:16} {pmed:12.4g} [{pq1:.4g}, {pq3:.4g}] {cmed:12.4g} [{cq1:.4g}, {cq3:.4g}]"
                  f" {wins:3d}/{pairs:<3d} {'holds' if holds else 'no':9} "
                  f"{verdict(list(side['parent'].values()), list(side['change'].values()), up, bound)}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workload", action="append", help="repeatable; default: every BENCHMARK.json workload")
    ap.add_argument("--seed0", type=int, default=901)
    ap.add_argument("--log", default=os.path.join(WORKDIR, "runs.jsonl"))
    args = ap.parse_args()

    roots = {}
    try:
        for side, rev in (("parent", args.parent), ("change", args.change)):
            roots[side] = worktree(rev, side)
        with open(os.path.join(roots["change"], "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        workloads = args.workload or [w["name"] for w in bench["workloads"]]
        metrics = {m["name"]: (m["better"] == "higher", m["bound"]) for m in bench["end_to_end"]}
        runs = {w: [] for w in workloads}
        os.makedirs(os.path.dirname(os.path.abspath(args.log)), exist_ok=True)
        with open(args.log, "a") as log:
            for pair in range(args.pairs):
                seed = args.seed0 + pair
                order = ("parent", "change") if pair % 2 == 0 else ("change", "parent")
                for workload in workloads:
                    for side in order:
                        r = run_once(roots[side], workload, seed, bench["run_seconds"])
                        runs[workload].append((pair, side, r))
                        log.write(json.dumps({"pair": pair, "seed": seed, "side": side,
                                              "workload": workload, "result": r}) + "\n")
                        log.flush()
                        summary = " ".join(f"{k}={r['metrics'][k]['value']:.4g}"
                                           for k in HEADLINE if k in r["metrics"])
                        print(f"pair {pair} seed {seed} {workload:13} {side:6} correct={r.get('correct')} "
                              f"failed={r.get('failed')} {summary}", flush=True)
        report(runs, metrics, args.pairs)
    finally:
        for path in roots.values():
            subprocess.run(["git", "worktree", "remove", "--force", path])


if __name__ == "__main__":
    main()
