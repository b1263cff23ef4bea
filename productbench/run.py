#!/usr/bin/env python3
"""Product benchmark for jetro on Spark.

    python3 productbench/run.py --workload <interactive|batch|doc_json> \\
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine together with the benchmark from the checkout's sources
(once per checkout), generates the workload's inputs from the seed, runs one
client thread in a closed loop against a local[nproc] session for the given
seconds, checks every query against its reference, and prints one JSON line
last: the end-to-end metrics (`--trace 0`) or the per-layer metrics of a
separate traced run (`--trace 1`). Everything is written under
`productbench/out/`. See README.md for the metrics and workloads.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
ENGINE = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ["interactive", "batch", "doc_json"]
JVM_TIMEOUT_S = 160

END_TO_END = [("query_p50_ms", "ms"), ("query_tail_ms", "ms"), ("rows_per_s", "1/s"),
              ("setup_s", "s"), ("heap_live_mb", "MB")]

# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add (the root build's javaOptions list the same).
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
         "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
         "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[productbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ENGINE, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark offline with sbt; returns the classpath."""
    if not os.path.isdir(os.path.join(ENGINE, "graft")):
        raise SystemExit(f"engine sources not found under {ENGINE}: run from a full checkout")
    os.makedirs(OUT, exist_ok=True)
    stamp, cp_file = os.path.join(OUT, "build.stamp"), os.path.join(OUT, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    env.setdefault("SBT_OPTS", f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                               "-Dsbt.offline=true -Xmx3g -Dsbt.server.autostart=false")
    log("building (first run in this checkout)")
    with open(os.path.join(OUT, "build.log"), "w") as lf:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=lf, text=True, timeout=840)
        lf.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if r.returncode != 0 or not lines:
        raise SystemExit(f"build failed, see {os.path.join(OUT, 'build.log')}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1]


def run_jvm(cp, out, args):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "productbench.Main", "--out", out] + args
    with open(os.path.join(out, "jvm.log"), "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=out)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("benchmark JVM timed out")
    if rc != 0:
        raise SystemExit(f"benchmark JVM failed ({rc}), see {os.path.join(out, 'jvm.log')}")


def read_jsonl(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def tail(lat):
    """The highest percentile with at least ten samples beyond it."""
    s = sorted(lat)
    k = max(0, len(s) - 11)
    return s[k], 100.0 * (k + 1) / len(s)


def check(queries, run):
    from refs import Checker
    checker = Checker(run["data"], os.path.dirname(run["json"]))
    verdicts, failures = {}, []
    for q in queries:
        key = q.get("output") or id(q)
        if key not in verdicts:
            try:
                verdicts[key] = checker.check(q)
            except Exception as e:  # a reference that cannot run is a failed check
                verdicts[key] = f"reference error: {e}"
        if verdicts[key]:
            failures.append({"i": q["i"], "template": q["template"], "reason": verdicts[key][:300]})
    return failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = build()
    out = os.path.join(OUT, f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    run_jvm(cp, out, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                      "--trace", str(a.trace)])
    run = json.load(open(os.path.join(out, "run.json")))
    queries = read_jsonl(os.path.join(out, "queries.jsonl"))
    failures = check(queries, run)
    attempted, failed = len(queries), len({f["i"] for f in failures})
    with open(os.path.join(out, "failures.json"), "w") as f:
        json.dump(failures, f, indent=1)

    ok = [q for q in queries if not q["error"]]
    lat = [q["latency_ms"] for q in ok if not a.trace or not q["traced"]] or [0.0]
    if a.trace:
        import layers
        rep = layers.report(queries, read_jsonl(os.path.join(out, "spans.jsonl")), run["cores"])
        with open(os.path.join(out, "layers.json"), "w") as f:
            json.dump(rep, f, indent=1)
        metrics = {n: {"value": rep["workload"]["metrics"][n], "unit": u} for n, u in layers.PER_LAYER}
        shares = ", ".join(f"{k} {v:.1%}" for k, v in list(rep["workload"]["self_share"].items())[:5])
        print(f"traced self time: {shares}")
        print(f"spans: {os.path.join(out, 'spans.jsonl')}  layers: {os.path.join(out, 'layers.json')}")
    else:
        t, pct = tail(lat)
        rows = sum(q["source_rows"] for q in ok)
        vals = {"query_p50_ms": statistics.median(lat), "query_tail_ms": t,
                "rows_per_s": rows / run["loop_s"], "setup_s": statistics.median(run["setup_s"]),
                "heap_live_mb": run["heap_live_mb"]}
        metrics = {n: {"value": vals[n], "unit": u} for n, u in END_TO_END}
        for n, u in END_TO_END:
            print(f"{n:>14} {vals[n]:14.4f} {u}")
        print(f"{'failed_frac':>14} {failed / attempted:14.4f} frac")
        print(f"query_tail_ms is p{pct:.1f} of {len(lat)} queries; setup rounds {run['setup_s']}")
    print(f"correct: {failed == 0} ({attempted - failed}/{attempted} queries match their reference)")
    for f in failures[:20]:
        print(f"  FAIL query {f['i']} {f['template']}: {f['reason']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    sys.dont_write_bytecode = True  # keep the checkout clean of __pycache__
    sys.path.insert(0, HERE)
    main()
