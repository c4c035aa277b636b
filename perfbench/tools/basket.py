#!/usr/bin/env python3
"""Derive the batch-floor basket from a graft.Bench artifact.

Usage: python3 perfbench/tools/basket.py bench_out.json src/main/scala

Rule: take every judged query whose bench time is under 0.5 s and group
it by the QueryGroup whose source file names it. Each group contributes
its max(1, round(10 * n_g / n)) fastest such queries (ties by name),
where n_g is the group's count of such queries and n the total, so
every group with such a query is covered. Prints the basket as a JSON
list.
"""
import glob
import json
import math
import os
import re
import sys

TARGET = 10
LIMIT_S = 0.5


def owners(src, names):
    files = glob.glob(os.path.join(src, "graft", "operators", "*.scala"))
    files.append(os.path.join(src, "graft", "sources", "SourceQueries.scala"))
    owner = {}
    for f in files:
        text = open(f).read()
        for n in names:
            if re.search('"%s"' % re.escape(n), text):
                owner[n] = os.path.basename(f)[: -len(".scala")]
    return owner


def basket(times, owner):
    fast = sorted((t, n) for n, t in times.items() if t < LIMIT_S)
    groups = {}
    for t, n in fast:
        groups.setdefault(owner[n], []).append(n)
    picked = []
    for g in sorted(groups):
        qs = groups[g]
        k = max(1, math.floor(TARGET * len(qs) / len(fast) + 0.5))
        picked += qs[:k]
    return sorted(picked)


if __name__ == "__main__":
    times = json.load(open(sys.argv[1]))["queries"]
    print(json.dumps(basket(times, owners(sys.argv[2], times))))
