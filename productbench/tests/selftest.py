#!/usr/bin/env python3
"""Self-test of the benchmark itself.

    python3 productbench/tests/selftest.py --sf-dir DIR

Checks three things and exits 1 if any fails:
  1. the generator is deterministic per seed: tables, JSON corpora and the
     query streams of every workload are identical for one seed and differ
     for another;
  2. every template runs on the rung it was chosen for (`Graft.backend`);
  3. every reference agrees with the engine on the engine's sf0.001 test
     tables (DIR), three instances per template, the catalog operators
     through their full oracle SQL.
"""
import argparse
import json
import os
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import run  # noqa: E402
from refs import Checker  # noqa: E402

# the rung each template was written for; catalog and JSON-text queries do
# not go through Graft.query and have none
RUNG = {"d_rowwise": "rowwise"}


def rung_for(q):
    if q["mode"] not in ("collect", "noop"):
        return None
    return RUNG.get(q["template"], "relational")


def same_tables(a, b, tables):
    con = duckdb.connect()
    for t in tables:
        x, y = (f"read_parquet('{d}/{t}.parquet/*.parquet')" for d in (a, b))
        n = con.sql(f"SELECT (SELECT COUNT(*) FROM (SELECT * FROM {x} EXCEPT ALL SELECT * FROM {y})) + "
                    f"(SELECT COUNT(*) FROM (SELECT * FROM {y} EXCEPT ALL SELECT * FROM {x}))").fetchone()[0]
        if n:
            return t
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True, help="the engine's sf0.001 test tables")
    args = ap.parse_args()
    cp = run.build()
    root = os.path.join(run.OUT, "selftest")
    problems = []

    # 1. determinism
    tables = {"interactive": ["nation", "customer", "part", "orders"],
              "batch": ["documents", "events", "lineitem"], "doc_json": ["documents"]}
    for w, ts in tables.items():
        outs = {}
        for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
            out = os.path.join(root, f"gen-{w}-{tag}")
            os.makedirs(out, exist_ok=True)
            run.run_jvm(cp, out, ["--workload", w, "--seed", str(seed), "--seconds", "0", "--trace", "0",
                                  "--stream", "40"])
            outs[tag] = out
        stream = {k: open(os.path.join(o, "stream.jsonl")).read() for k, o in outs.items()}
        if stream["a"] != stream["b"]:
            problems.append(f"{w}: query stream differs between two runs of one seed")
        if stream["a"] == stream["c"]:
            problems.append(f"{w}: query stream does not depend on the seed")
        data = {k: os.path.join(o, "data") for k, o in outs.items()}
        t = same_tables(data["a"], data["b"], ts)
        if t:
            problems.append(f"{w}: table {t} differs between two runs of one seed")
        if not same_tables(data["a"], data["c"], ts):
            problems.append(f"{w}: tables do not depend on the seed")
        if w == "doc_json":
            for corpus in ("driver_docs", "row_docs"):
                x, y = (os.path.join(outs[k], "json") for k in ("a", "b"))
                if same_tables(x, y, [corpus]):
                    problems.append(f"doc_json: {corpus} differs between two runs of one seed")
    print(f"determinism: {'ok' if not problems else problems}")

    # 2 and 3. rungs and references on the test tables
    for w in run.WORKLOADS:
        out = os.path.join(root, f"cover-{w}")
        os.makedirs(out, exist_ok=True)
        run.run_jvm(cp, out, ["--workload", w, "--seed", "7", "--seconds", "0", "--trace", "0",
                              "--coverage", "1", "--data", args.sf_dir])
        meta = json.load(open(os.path.join(out, "run.json")))
        checker = Checker(meta["data"], os.path.dirname(meta["json"]), full_oracles=True)
        verdicts = {}
        for q in run.read_jsonl(os.path.join(out, "queries.jsonl")):
            want, got = rung_for(q), q["layers"].get("rung")
            if want != got:
                problems.append(f"{w} {q['template']}: rung {got}, written for {want}")
            key = q["output"] or q["i"]  # a repeated batch query is checked once
            if key not in verdicts:
                verdicts[key] = checker.check(q)
            why = verdicts[key]
            if why:
                problems.append(f"{w} query {q['i']} {q['template']}: {why[:300]}")
        print(f"{w}: coverage checked")
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
