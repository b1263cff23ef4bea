"""Per-layer numbers of a traced run, from its spans and per-query counts.

A span's self time is its duration minus the part of it that its children
cover. The benchmark's own spans are children of `query`; a Spark job or
Catalyst phase is a child of the own span it overlaps most, and a stage a
child of its job. Spark's spans carry millisecond timestamps and are
clipped to their parent.
"""
import statistics
from collections import defaultdict

# the benchmark's own spans sit directly under `query`; Spark's nest in them
OWN = ["jexpr.parse", "graft.compile", "exec.action", "jexpr.json_parse", "jexpr.eval"]
PARENTS = {"spark.stage": ["spark.job"] + OWN, "spark.job": OWN, "catalyst.analysis": OWN,
           "catalyst.optimize": OWN, "catalyst.plan": OWN}

PER_LAYER = [
    ("jexpr.parse_ms", "ms"), ("jexpr.json_parse_ms", "ms"), ("jexpr.eval_ms", "ms"),
    ("graft.compile_ms", "ms"), ("graft.rung_relational", "frac"), ("graft.rung_rowwise", "frac"),
    ("graft.rung_document", "frac"), ("graft.rowwise_rows", "count"), ("graft.rowwise_errored_rows", "count"),
    ("core.spread_queries", "frac"), ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"), ("catalyst.plan_nodes", "count"), ("spark.codegen_ms", "ms"),
    ("spark.codegen_classes", "count"), ("plan.exchanges_hash", "count"), ("plan.exchanges_range", "count"),
    ("plan.exchanges_roundrobin", "count"), ("plan.broadcasts", "count"), ("plan.codegen_stages", "count"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"), ("exec.wall_ms", "ms"),
    ("exec.task_busy_ms", "ms"), ("exec.core_util", "frac"), ("exec.sched_wait_ms", "ms"),
    ("exec.task_skew", "ratio"), ("exec.input_rows", "count"), ("exec.shuffle_write_mb", "MB"),
    ("exec.shuffle_read_mb", "MB"), ("exec.spill_mb", "MB"), ("exec.gc_ms", "ms"),
    ("exec.failed_tasks", "count"), ("trace.overhead_frac", "frac"),
]


def _overlap(a, b):
    return min(a["end"], b["end"]) - max(a["start"], b["start"])


def self_times(spans):
    """{qid: [(name, self_ms)]} from a list of span dicts (clipped in place)."""
    by_q = defaultdict(list)
    for s in spans:
        by_q[s["qid"]].append(s)
    out = {}
    for qid, ss in by_q.items():
        root = next((s for s in ss if s["name"] == "query"), None)
        if root is None:
            continue
        kids = defaultdict(list)
        # parents before children: own spans, then jobs and phases, then stages
        for s in sorted(ss, key=lambda s: (s["name"] == "spark.stage", s["name"] in PARENTS)):
            if s is root:
                continue
            cands = [c for c in ss if c["name"] in PARENTS.get(s["name"], []) and _overlap(c, s) > 0]
            p = max(cands, key=lambda c: (-PARENTS[s["name"]].index(c["name"]), _overlap(c, s)),
                    default=root)
            s["start"], s["end"] = max(s["start"], p["start"]), min(s["end"], p["end"])
            kids[id(p)].append(s)
        res = []
        for s in ss:
            cover, reach = 0.0, float("-inf")
            for c in sorted(kids[id(s)], key=lambda c: c["start"]):
                a = max(c["start"], reach)
                if c["end"] > a:
                    cover += c["end"] - a
                    reach = c["end"]
            res.append((s["name"], max(0.0, s["end"] - s["start"] - cover)))
        out[qid] = res
    return out


def _mean(xs):
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def overhead(queries):
    """Traced over untraced latency, less one: per template the median of
    each half, summed over the templates that have both halves."""
    lat = defaultdict(lambda: ([], []))
    for q in queries:
        if not q["error"]:
            lat[q["template"]][0 if q["traced"] else 1].append(q["latency_ms"])
    pairs = [(statistics.median(t), statistics.median(u)) for t, u in lat.values() if t and u]
    return sum(t for t, _ in pairs) / sum(u for _, u in pairs) - 1 if pairs else 0.0


def summarize(queries, spans, cores):
    """Per-layer metrics for a set of traced queries, plus their self-time
    shares and plan fingerprints."""
    traced = [q for q in queries if q["traced"]]
    selft = self_times([dict(s) for s in spans if s["qid"] in {q["i"] for q in traced}])
    span_ms = defaultdict(list)
    for s in spans:
        span_ms[(s["qid"], s["name"])].append(s["end"] - s["start"])
    share = defaultdict(float)
    for qid, xs in selft.items():
        for name, ms in xs:
            share[name] += ms
    total = sum(share.values()) or 1.0

    def per_q(name):  # mean over traced queries of a span's summed duration
        return _mean(sum(span_ms.get((q["i"], name), [0.0])) for q in traced)

    L = [q["layers"] for q in traced]
    graft_qs = [x for x in L if x.get("rung")]
    rung = lambda r: (sum(1 for x in L if x.get("rung") == r) / len(L)) if L else 0.0
    wall = sum(sum(span_ms.get((q["i"], "exec.action"), [0.0])) for q in traced)
    busy = sum(x.get("task_busy_ms", 0) for x in L)
    waits = sum(x.get("task_waits", 0) for x in L)
    skews = [x["task_skew"] for x in L if x.get("stages")]
    m = {
        "jexpr.parse_ms": per_q("jexpr.parse"),
        "jexpr.json_parse_ms": per_q("jexpr.json_parse"),
        "jexpr.eval_ms": per_q("jexpr.eval"),
        "graft.compile_ms": per_q("graft.compile"),
        "graft.rung_relational": rung("relational"),
        "graft.rung_rowwise": rung("rowwise"),
        "graft.rung_document": rung("document"),
        "graft.rowwise_rows": _mean(x.get("rowwise_rows", 0) for x in L),
        "graft.rowwise_errored_rows": _mean(x.get("rowwise_errored_rows", 0) for x in L),
        "core.spread_queries": _mean(1.0 if x.get("spread") else 0.0 for x in L),
        "catalyst.analysis_ms": _mean(x.get("catalyst_analysis_ms", 0) for x in L),
        "catalyst.optimization_ms": _mean(x.get("catalyst_optimization_ms", 0) for x in L),
        "catalyst.planning_ms": _mean(x.get("catalyst_planning_ms", 0) for x in L),
        "catalyst.plan_nodes": _mean(x.get("plan_nodes", 0) for x in L),
        "spark.codegen_ms": _mean(x.get("codegen_ns", 0) / 1e6 for x in L),
        "spark.codegen_classes": _mean(x.get("codegen_classes", 0) for x in L),
        "plan.exchanges_hash": _mean(x.get("exchanges_hash", 0) for x in L),
        "plan.exchanges_range": _mean(x.get("exchanges_range", 0) for x in L),
        "plan.exchanges_roundrobin": _mean(x.get("exchanges_roundrobin", 0) for x in L),
        "plan.broadcasts": _mean(x.get("broadcasts", 0) for x in L),
        "plan.codegen_stages": _mean(x.get("codegen_stages", 0) for x in L),
        "exec.jobs": _mean(x.get("jobs", 0) for x in L),
        "exec.stages": _mean(x.get("stages", 0) for x in L),
        "exec.tasks": _mean(x.get("tasks", 0) for x in L),
        "exec.wall_ms": per_q("exec.action"),
        "exec.task_busy_ms": _mean(x.get("task_busy_ms", 0) for x in L),
        "exec.core_util": busy / (wall * cores) if wall else 0.0,
        "exec.sched_wait_ms": sum(x.get("sched_wait_ms", 0) for x in L) / waits if waits else 0.0,
        "exec.task_skew": _mean(skews) if skews else 1.0,
        "exec.input_rows": _mean(x.get("input_rows", 0) for x in L),
        "exec.shuffle_write_mb": _mean(x.get("shuffle_write_b", 0) / 1048576 for x in L),
        "exec.shuffle_read_mb": _mean(x.get("shuffle_read_b", 0) / 1048576 for x in L),
        "exec.spill_mb": _mean(x.get("spill_b", 0) / 1048576 for x in L),
        "exec.gc_ms": _mean(x.get("gc_ms", 0) for x in L),
        "exec.failed_tasks": sum(x.get("failed_tasks", 0) for x in L),
    }
    m["trace.overhead_frac"] = overhead(queries)
    prints = defaultdict(set)
    for q in traced:
        if q["layers"].get("fingerprint"):
            prints[q["layers"]["fingerprint"]].add(q["layers"]["operators"])
    return {
        "queries": len(traced),
        "graft_queries": len(graft_qs),
        "metrics": m,
        "self_ms": dict(share),
        "self_share": {k: v / total for k, v in sorted(share.items(), key=lambda kv: -kv[1])},
        "fingerprints": {k: sorted(v)[0] for k, v in sorted(prints.items())},
    }


def report(queries, spans, cores):
    """The workload summary and one summary per template."""
    by_t = defaultdict(list)
    for q in queries:
        by_t[q["template"]].append(q)
    return {
        "workload": summarize(queries, spans, cores),
        "templates": {t: summarize(qs, spans, cores) for t, qs in sorted(by_t.items())},
    }

