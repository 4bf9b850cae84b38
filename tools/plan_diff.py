#!/usr/bin/env python3
"""Diff two `graft.Audit explain` dumps by per-query join-strategy signature.

Usage: python3 tools/plan_diff.py explain_A.txt explain_B.txt

For each query section (==== name ====) extract the multiset of join
operator kinds (the nodes whose strategy can INFLECT with scale:
broadcast-hash vs sort-merge vs shuffled-hash vs nested-loop vs
cartesian vs the custom as-of exec) and print the queries whose
signatures differ — the set whose physical plans the oracle has only
ever checked at one of the two scales.
"""
import re
import sys
from collections import Counter

KINDS = [
    ("BroadcastHashJoin", re.compile(r"\bBroadcastHashJoin\b")),
    ("SortMergeJoin", re.compile(r"\bSortMergeJoin\b")),
    ("ShuffledHashJoin", re.compile(r"\bShuffledHashJoin\b")),
    ("BroadcastNestedLoopJoin", re.compile(r"\bBroadcastNestedLoopJoin\b")),
    ("CartesianProduct", re.compile(r"\bCartesianProduct\b")),
    ("AsOfJoin", re.compile(r"\bAsOfJoin\b")),
]


def signatures(path):
    sigs, cur, counts = {}, None, Counter()
    numbered = set()  # count each formatted node id once, not per echo
    for ln in open(path):
        m = re.match(r"^==== (\S+) ====", ln)
        if m:
            if cur is not None:
                sigs[cur] = counts
            cur, counts, numbered = m.group(1), Counter(), set()
            continue
        # formatted explain prints each node twice (tree + detail);
        # count only the detail lines "(<id>) <NodeName>"
        d = re.match(r"^\((\d+)\) (\w+)", ln)
        if d and d.group(1) not in numbered:
            numbered.add(d.group(1))
            for kind, rx in KINDS:
                if rx.search(d.group(2)):
                    counts[kind] += 1
    if cur is not None:
        sigs[cur] = counts
    return sigs


def fmt(c):
    return "+".join(f"{n}x{k}" for k, n in sorted(c.items())) or "none"


def main():
    a, b = signatures(sys.argv[1]), signatures(sys.argv[2])
    names = sorted(set(a) | set(b))
    missing = [n for n in names if n not in a or n not in b]
    if missing:
        print(f"WARNING: {len(missing)} queries missing from one dump: "
              f"{missing[:10]}{'...' if len(missing) > 10 else ''}")
    drift = [(n, a.get(n, Counter()), b.get(n, Counter()))
             for n in names if a.get(n) != b.get(n)]
    for n, ca, cb in drift:
        print(f"DRIFT {n}: {fmt(ca)} -> {fmt(cb)}")
    print(f"{len(drift)} of {len(names)} queries change join strategy")


if __name__ == "__main__":
    main()
