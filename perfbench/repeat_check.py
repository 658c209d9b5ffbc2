#!/usr/bin/env python3
"""Exact-repeat check of the traced run's counts.

    python3 perfbench/repeat_check.py A.json B.json

A and B are perfbench/.out/counts-<workload>-<seed>.json files of two
traced runs of the same workload and seed. Counts (jobs, stages, tasks,
shuffle bytes, fallback tasks, rows, store bytes and files written,
persisted RDDs left) do not depend on host load; this lists every one
that differs between the runs, per op and for the totals. Exit 0 when
everything repeats, 1 otherwise.
"""
import json
import sys


def main(a_path, b_path):
    a, b = json.load(open(a_path)), json.load(open(b_path))
    key = lambda o: (o["pass"], o["seq"], o["name"])  # noqa: E731
    ops_a = {key(o): o for o in a["ops"]}
    ops_b = {key(o): o for o in b["ops"]}
    diffs = []
    for k in sorted(set(ops_a) | set(ops_b)):
        if k not in ops_a or k not in ops_b:
            diffs.append({"op": list(k), "count": "present", "a": k in ops_a, "b": k in ops_b})
            continue
        for c, va in ops_a[k].items():
            if c in ("pass", "seq", "name"):
                continue
            vb = ops_b[k].get(c)
            if va != vb:
                diffs.append({"op": list(k), "count": c, "a": va, "b": vb})
    for c, va in a["totals"].items():
        if b["totals"].get(c) != va:
            diffs.append({"op": "total", "count": c, "a": va, "b": b["totals"].get(c)})
    print(json.dumps({"ops_compared": len(set(ops_a) & set(ops_b)), "not_repeating": diffs}, indent=1))
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:3]))
