#!/usr/bin/env python3
"""Summarize a tools/ab_block.sh run: per query and arm, the median
[q1, q3] of the per-round medians and the rounds each arm won, then each
arm's flop_control per round.

    tools/ab_summary.py <tag> [dir]     # reads <dir>/ab_<tag>_{A,B}<i>.json

Arm A is the parent (the baseline). The run is FLAGGED (exit 2) when the
two arms' flop_control medians differ by more than arm A's flop_control
IQR: flop_control times the same fixed kernel in both arms, so a shift
there is box drift between the arms, not the change, and query deltas
of that size cannot be read.
"""
import glob
import json
import os
import re
import statistics
import sys


def quartiles(xs):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def load(tag, d):
    rounds = {"A": {}, "B": {}}
    for f in glob.glob(os.path.join(d, f"ab_{tag}_*.json")):
        m = re.fullmatch(rf"ab_{re.escape(tag)}_([AB])(\d+)\.json",
                         os.path.basename(f))
        if not m:
            continue
        try:
            with open(f) as fh:
                rounds[m.group(1)][int(m.group(2))] = json.load(fh)
        except (OSError, json.JSONDecodeError) as e:
            print(f"skip {f}: {e}", file=sys.stderr)
    return rounds


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    tag = sys.argv[1]
    d = sys.argv[2] if len(sys.argv) > 2 else "/tmp"
    rounds = load(tag, d)
    paired = sorted(set(rounds["A"]) & set(rounds["B"]))
    if not paired:
        sys.exit(f"no paired rounds for tag {tag} in {d}")
    queries = sorted({q for arm in rounds.values() for r in arm.values()
                      for q in r.get("medlohi", {})})
    fmt = "{:<28} {:>24} {:>24} {:>7}"
    print(f"{len(paired)} paired rounds: {paired}")
    print(fmt.format("query", "A median [q1, q3]", "B median [q1, q3]",
                     "wins A:B"))
    for q in queries:
        cells, wins = [], [0, 0]
        for arm in "AB":
            xs = [rounds[arm][i]["medlohi"][q][0] for i in paired
                  if q in rounds[arm][i].get("medlohi", {})]
            if xs:
                q1, med, q3 = quartiles(xs)
                cells.append(f"{med:.2f} [{q1:.2f}, {q3:.2f}]")
            else:
                cells.append("missing")
        for i in paired:
            a = rounds["A"][i].get("medlohi", {}).get(q)
            b = rounds["B"][i].get("medlohi", {}).get(q)
            if a and b and a[0] != b[0]:
                wins[0 if a[0] < b[0] else 1] += 1
        print(fmt.format(q, cells[0], cells[1], f"{wins[0]}:{wins[1]}"))
    flop = {arm: [rounds[arm][i].get("flop_control", -1.0) for i in paired]
            for arm in "AB"}
    for arm in "AB":
        q1, med, q3 = quartiles(flop[arm])
        print(f"flop_control {arm}: {med:.2f} [{q1:.2f}, {q3:.2f}] "
              f"rounds {[round(x, 2) for x in flop[arm]]}")
    a_q1, a_med, a_q3 = quartiles(flop["A"])
    b_med = quartiles(flop["B"])[1]
    if abs(b_med - a_med) > a_q3 - a_q1:
        print(f"FLAG: flop_control medians differ by {abs(b_med - a_med):.2f}"
              f" s, more than arm A's IQR {a_q3 - a_q1:.2f} s")
        sys.exit(2)


if __name__ == "__main__":
    main()
