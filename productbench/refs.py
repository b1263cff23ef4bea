"""Hand-written references for every benchmark template.

`interactive` and `batch` queries are checked against DuckDB SQL twins over
the same parquet inputs; the catalog operators reuse the engine's own oracle
SQL (`SparkEntry.oracleSql`, carried in the run's output), except that a timed
run checks the minhash pairs by their exact Jaccard (see `Checker._pairs`). `doc_json`
queries are checked against one plain-Python evaluator per template. Values
are compared through `tools/check.py`'s canonicalisation.
"""
import json
import os
import re
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check import canon  # noqa: E402

TABLES = ["nation", "customer", "part", "orders", "lineitem", "events", "documents"]


def dbl(x):
    return f"CAST('{x}' AS DOUBLE)"


# ── SQL twins: template -> (sql(params), ordered) ──

def _interactive(t, p):
    if t == "i_customer_count":
        return (f"SELECT CAST(COUNT(*) AS BIGINT) AS count FROM customer WHERE c_acctbal > {dbl(p['bal'])} "
                f"AND c_mktsegment = '{p['seg']}' AND c_nationkey <> {p['n']}", False)
    if t == "i_orders_topk":
        return (f"SELECT o_orderkey AS id, o_totalprice AS total, lower(o_orderpriority) AS prio, "
                f"o_orderstatus || '-' || o_orderpriority AS tag, "
                f"CASE WHEN o_totalprice > 250000 THEN 'big' ELSE 'small' END AS big FROM orders WHERE o_orderstatus = '{p['st']}' "
                f"AND o_totalprice > {dbl(p['lo'])} ORDER BY o_orderkey DESC LIMIT {p['k']}", True)
    if t == "i_part_topk":
        return (f"SELECT p_partkey AS key, upper(p_name) AS name, p_brand AS brand, "
                f"p_brand || '/' || p_type || '/' || p_size AS label, "
                f"CASE WHEN p_size > 25 THEN 'big' ELSE 'small' END AS big FROM part WHERE p_size = {p['size']} "
                f"AND p_retailprice > {dbl(p['lo'])} ORDER BY p_partkey LIMIT {p['k']}", True)
    if t == "i_customer_page":
        return (f"SELECT c_custkey AS id, c_acctbal AS bal, c_name || '/' || c_mktsegment AS line, "
                f"CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END AS sign FROM customer "
                f"WHERE c_nationkey = {p['n']} ORDER BY c_custkey LIMIT {p['k']} OFFSET {p['skip']}", True)
    if t == "i_customer_count_by":
        return (f"SELECT c_mktsegment AS key, CAST(COUNT(*) AS BIGINT) AS n FROM customer "
                f"WHERE c_custkey < {p['c']} AND c_acctbal > {dbl(p['bal'])} GROUP BY 1", False)
    if t == "i_part_group":
        return (f"SELECT p_brand AS key, CAST(COUNT(*) AS BIGINT) AS n, MAX(p_retailprice) AS hi FROM part "
                f"WHERE p_size <= {p['size']} AND p_retailprice > {dbl(p['lo'])} GROUP BY 1", False)
    if t == "i_customer_fstring":
        return (f"SELECT c_custkey AS id, c_name || ' [' || c_mktsegment || '] n=' || c_nationkey AS line, "
                f"lower(c_mktsegment) AS seg, CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END AS sign, "
                f"'c' || c_custkey || '-' || c_nationkey AS tag "
                f"FROM customer WHERE c_nationkey = {p['n']} AND c_acctbal > {dbl(p['bal'])} "
                f"ORDER BY c_custkey LIMIT {p['k']}", True)
    if t == "i_customer_nation":
        return (f"SELECT c.c_custkey AS id, n.n_name AS nation FROM customer c JOIN nation n "
                f"ON c.c_nationkey = n.n_nationkey WHERE c.c_custkey >= {p['lo']} "
                f"AND c.c_custkey < {p['lo'] + p['w']}", False)
    if t == "i_nation_card":
        return (f"SELECT n_nationkey AS id, lower(n_name) AS name, upper(n_name) AS up, "
                f"n_name || '-' || n_regionkey AS tag, CASE WHEN n_regionkey = 3 THEN 'emea' "
                f"WHEN n_regionkey = 2 THEN 'asia' ELSE 'other' END AS region, "
                f"CAST(length(n_name) AS BIGINT) AS len, 'N' || n_nationkey || 'R' || n_regionkey AS code "
                f"FROM nation WHERE n_nationkey >= {p['lo']} AND n_nationkey < {p['hi']}", False)
    if t == "i_part_compr":
        return (f"SELECT p_partkey AS key, p_brand || '/' || p_type AS label, "
                f"CASE WHEN p_retailprice > {dbl(p['mid'])} THEN 'a' ELSE 'b' END AS tier, "
                f"upper(p_name) AS name, 'P' || p_partkey || '-' || p_size AS code FROM part "
                f"WHERE p_size = {p['size']} AND p_retailprice >= {dbl(p['lo'])} AND p_retailprice < {dbl(p['hi'])}", False)
    raise KeyError(t)


def _batch(t, p, q):
    if t == "b_arr_lane":
        w, k = p["w"], p["k"]
        return (f"""WITH s AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
            c AS (SELECT *, COALESCE(list_position(ws, '{w}'), 0) AS pos FROM s)
            SELECT doc_id AS k,
              COALESCE(array_to_string(list_filter(ws, x -> x != '{w}'), '|'), '') AS rm,
              CAST(CASE WHEN pos = 0 THEN len(ws) ELSE pos - 1 END AS BIGINT) AS tw,
              CAST(GREATEST(len(ws) - {k} + 1, 0) AS BIGINT) AS wc
            FROM c""", False)
    if t == "b_arr_seq":
        k = p["k"]
        # zscore replayed with the interpreter's left-fold operation order
        return (f"""WITH s AS (SELECT doc_id,
                list_transform(str_split(text, ' '), x -> CAST(length(x) AS BIGINT)) AS ls FROM documents),
            z AS (SELECT *, list_transform(ls, x -> CAST(x AS DOUBLE)) AS ld,
                list_reduce(list_transform(ls, x -> CAST(x AS DOUBLE)), (a, b) -> a + b) / len(ls) AS mean FROM s),
            z2 AS (SELECT *, sqrt(list_reduce(list_transform(ld, y -> (y - mean) * (y - mean)),
                (a, b) -> a + b) / len(ld)) AS sd FROM z)
            SELECT doc_id AS k,
              list_max(list_transform(ld, x -> CASE WHEN sd = 0 THEN 0.0 ELSE (x - mean) / sd END)) AS zs,
              list_max([CAST(list_sum(ls[i - {k} + 1:i]) AS DOUBLE) for i in range({k}, len(ls) + 1)]) AS rs
            FROM z2""", False)
    if t == "b_events_rolling":
        k = p["k"]
        return (f"""SELECT val AS user_id FROM (
              SELECT ROW_NUMBER() OVER (ORDER BY event_id) AS rn,
                CASE WHEN ROW_NUMBER() OVER (ORDER BY event_id) >= {k}
                     THEN SUM(CAST(user_id AS DOUBLE)) OVER
                          (ORDER BY event_id ROWS BETWEEN {k - 1} PRECEDING AND CURRENT ROW) END AS val
              FROM events) ORDER BY rn""", True)
    if t == "b_lineitem_group":
        return (f"SELECT {p['key']} AS key, CAST(COUNT(*) AS BIGINT) AS n, SUM(l_quantity) AS qty, "
                f"MAX(l_extendedprice) AS hi FROM lineitem WHERE l_discount >= {dbl(p['d'])} GROUP BY 1", False)
    if t == "b_lineitem_shape":
        return (f"SELECT l_orderkey AS k, l_linenumber AS ln, "
                f"l_returnflag || l_linestatus || '-' || l_linenumber AS tag, "
                f"l_extendedprice * (1 - l_discount) AS net FROM lineitem WHERE l_quantity > {p['q']}", False)
    if t == "b_pack_sequences":
        return (q["oracle"], True)
    raise KeyError(t)


# ── plain-Python evaluators for the JSON-document templates ──

def _num(v):
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _gt(a, b):
    """jetro `>`: numbers with numbers, strings with strings; else false."""
    if _num(a) and _num(b):
        return a > b
    if isinstance(a, str) and isinstance(b, str):
        return a > b
    return False


def _get(rec, *path):
    for k in path:
        if not isinstance(rec, dict):
            return None
        rec = rec.get(k)
    return rec


def _truthy(v):
    if v is None:
        return False
    if isinstance(v, bool):
        return v
    if _num(v):
        return v != 0
    return len(v) > 0


def _flat(xs):
    out = []
    for x in xs:
        if isinstance(x, list):
            out.extend(x)
        elif x is not None:
            out.append(x)
    return out


def _unique(xs):
    seen, out = set(), []
    for x in xs:
        k = json.dumps(x, sort_keys=True)
        if k not in seen:
            seen.add(k)
            out.append(x)
    return out


def _display(v):
    if isinstance(v, str):
        return v
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float) and v == int(v) and abs(v) < 1e15:
        return str(int(v))
    return json.dumps(v, separators=(",", ":"), ensure_ascii=False)


def doc_eval(t, p, doc):
    data = doc["data"]
    if t == "d_count":
        return sum(1 for r in data if _gt(r.get("score"), p["s"]))
    if t == "d_qty":
        items = _flat(r.get("items") for r in data if r.get("active") is True)
        return sum(i["qty"] for i in items if _gt(i.get("qty"), p["q"]))
    if t == "d_cities":
        return _unique(_get(r, "user", "addr", "city") for r in data if _gt(r.get("score"), p["s"]))
    if t == "d_count_by":
        out = {}
        for r in data:
            if _gt(r.get("score"), p["s"]):
                k = _display(_get(r, "user", "addr", "city"))
                out[k] = out.get(k, 0) + 1
        return out
    if t == "d_page":
        rs = sorted((r for r in data if _gt(r.get("score"), p["s"])), key=lambda r: r["id"])[:p["k"]]
        return [f"#{r['id']} {_display(_get(r, 'user', 'name'))} {_display(r.get('score'))}" for r in rs]
    if t == "d_tags":
        return len(_unique(_flat(r.get("tags") for r in data if _truthy(r.get("active")))))
    raise KeyError(t)


# ── comparison ──

def _rows(objs):
    """Rows as dicts -> canonical value lists over sorted column names."""
    if not objs:
        return [], []
    cols = sorted(objs[0])
    return cols, [[canon(o.get(c)) for c in cols] for o in objs]


def _same(got_cols, got, exp_cols, exp, ordered):
    if got_cols != exp_cols and got and exp:
        return f"columns {got_cols} != {exp_cols}"
    if len(got) != len(exp):
        return f"{len(got)} rows, expected {len(exp)}"
    if not ordered:
        got, exp = sorted(got), sorted(exp)
    for i, (a, b) in enumerate(zip(got, exp)):
        if a != b:
            return f"row {i}: got {a}, expected {b}"
    return None


def _rel_rows(rel):
    cols = sorted(rel.columns)
    idx = [rel.columns.index(c) for c in cols]
    return cols, [[canon(r[i]) for i in idx] for r in rel.fetchall()]


class Checker:
    """Checks one run's queries; `check(q)` returns None or a reason."""

    def __init__(self, data_dir, json_dir, full_oracles=False):
        self.full_oracles = full_oracles
        self.con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.isdir(p):
                p = os.path.join(p, "*.parquet")
            if os.path.exists(p) or "*" in p:
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        self.json_dir = json_dir
        self._docs = {}

    def _doc_corpus(self, name):
        if name not in self._docs:
            path = os.path.join(self.json_dir, f"{name}.parquet", "*.parquet")
            rows = self.con.sql(f"SELECT doc_id, json FROM read_parquet('{path}') ORDER BY doc_id").fetchall()
            self._docs[name] = [json.loads(j) for _, j in rows]
        return self._docs[name]

    def _pairs(self, rows):
        """The minhash pairs without the engine's oracle, whose bit-exact
        XXH64 replay in DuckDB takes minutes at benchmark scale (the self-test
        runs it): every pair is ordered, listed once and carries the exact
        word-3-gram Jaccard, at least 0.2; every two documents with the same
        non-empty gram set are paired."""
        grams = {}
        for d, text in self.con.sql("SELECT doc_id, text FROM documents").fetchall():
            ws = re.split(r"\s+", text)
            grams[d] = {tuple(ws[i:i + 3]) for i in range(len(ws) - 2)}
        seen = set()
        for a, b, j in rows:
            if not a < b or (a, b) in seen:
                return f"pair ({a}, {b}) out of order or repeated"
            seen.add((a, b))
            exact = len(grams[a] & grams[b]) / max(len(grams[a] | grams[b]), 1)
            if exact < 0.2 or abs(exact - j) > 5.1e-5:
                return f"pair ({a}, {b}): jaccard {j}, exact {exact}"
        by_set = {}
        for d, g in grams.items():
            if g:
                by_set.setdefault(frozenset(g), []).append(d)
        for ds in by_set.values():
            for x in ds:
                for y in ds:
                    if x < y and (x, y) not in seen:
                        return f"identical documents {x} and {y} not paired"
        return None

    def check(self, q):
        t, p, mode = q["template"], q["params"], q["mode"]
        if q["error"]:
            return q["error"]
        if mode == "driver":
            exp = doc_eval(t, p, self._doc_corpus("driver_docs")[p["doc"]])
            got = q["result"]
            return None if got == exp and json.dumps(got) == json.dumps(exp) else f"got {got!r:.200}, expected {exp!r:.200}"
        if mode == "spark_many":
            ts = ["d_count", "d_qty", "d_count_by"]
            docs = self._doc_corpus("row_docs")
            for row in q["result"]:
                for j, tt in enumerate(ts):
                    pp = {k.split(".", 1)[1]: v for k, v in p.items() if k.startswith(tt + ".")}
                    exp = _display(doc_eval(tt, pp, docs[row["doc_id"]]))
                    if row["r"][j] != exp:
                        return f"doc {row['doc_id']} {tt}: got {row['r'][j]!r:.200}, expected {exp!r:.200}"
            return None if len(q["result"]) == len(docs) else f"{len(q['result'])} rows, expected {len(docs)}"
        if t == "d_rowwise":
            rows = self.con.sql(
                f"SELECT doc_id, text FROM documents WHERE lang = '{p['lang']}' AND n_chars > {p['n']}").fetchall()
            exp = [{"id": i, "nw": len(re.findall(r"\S+", x)), "blank": x.strip() == ""} for i, x in rows]
            return _same(*_rows(q["result"]), *_rows(exp), False)
        if mode == "collect":
            sql, ordered = _interactive(t, p)
            return _same(*_rows(q["result"]), *_rel_rows(self.con.sql(sql)), ordered)
        got_sql = f"SELECT * FROM read_parquet('{q['output']}/*.parquet')"
        if t == "b_minhash_pairs" and not self.full_oracles:
            return self._pairs(self.con.sql(got_sql).fetchall())
        sql, ordered = (q["oracle"], True) if t == "b_minhash_pairs" else _batch(t, p, q)
        got = self.con.sql(got_sql)
        return _same(*_rel_rows(got), *_rel_rows(self.con.sql(sql)), ordered)
