#!/usr/bin/env python3
"""Compare two traced runs layer by layer.

    python3 productbench/diff.py <run A> <run B>

A run is a traced run's output directory (productbench/out/<workload>-s<seed>-t1)
or its layers.json. For the workload and for each template the tool prints
every per-layer metric and self-time share of A and B, marks those that moved
by more than THRESHOLD (10%), and flags every plan fingerprint (operator
multiset plus exchange kinds) that one run has and the other has not. Exits 1
when a fingerprint changed, else 0.
"""
import argparse
import json
import os
import sys

# the share by which a metric must change to be marked as moved
THRESHOLD = 0.10


def load(path):
    if os.path.isdir(path):
        path = os.path.join(path, "layers.json")
    with open(path) as f:
        return json.load(f)


def moved(a, b):
    if a == b:
        return False
    base = max(abs(a), abs(b))
    return base > 1e-9 and abs(b - a) / base > THRESHOLD


def compare(name, a, b):
    print(f"== {name}: {a['queries']} vs {b['queries']} traced queries")
    for k in sorted(set(a["metrics"]) | set(b["metrics"])):
        x, y = a["metrics"].get(k, 0.0), b["metrics"].get(k, 0.0)
        mark = "  <-- moved" if moved(x, y) else ""
        print(f"   {k:28s} {x:14.4f} {y:14.4f}{mark}")
    for k in sorted(set(a["self_share"]) | set(b["self_share"])):
        x, y = a["self_share"].get(k, 0.0), b["self_share"].get(k, 0.0)
        mark = "  <-- moved" if moved(x, y) and max(x, y) > 0.02 else ""
        print(f"   self {k:23s} {x:13.1%} {y:13.1%}{mark}")
    fa, fb = set(a["fingerprints"]), set(b["fingerprints"])
    for f in sorted(fa - fb):
        print(f"   PLAN only in A {f}: {a['fingerprints'][f]}")
    for f in sorted(fb - fa):
        print(f"   PLAN only in B {f}: {b['fingerprints'][f]}")
    return fa != fb


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("a")
    ap.add_argument("b")
    args = ap.parse_args()
    a, b = load(args.a), load(args.b)
    changed = compare("workload", a["workload"], b["workload"])
    for t in sorted(set(a["templates"]) | set(b["templates"])):
        if t in a["templates"] and t in b["templates"]:
            changed |= compare(t, a["templates"][t], b["templates"][t])
        else:
            print(f"== {t}: only in {'A' if t in a['templates'] else 'B'}")
    print("plan fingerprints changed" if changed else "plan fingerprints unchanged")
    sys.exit(1 if changed else 0)


if __name__ == "__main__":
    main()
