"""Seeded request streams for the three workloads and their independent
answers.

Every request is a `Req(kind, arg)`:
  run    POST /run,  arg = surface-syntax expression
  runc   POST /runc, arg = surface-syntax command program
  get    GET arg (a /get_artist_less_than/{n} or /get_album_and_artist/{n})
  query  GET /query/{arg}

Answers come from DuckDB over the same parquet files (for /run, /runc and
the GET routes) or from the query's registered oracle SQL (for /query), so
no answer passes through the engine under test.
"""
import bisect
import datetime as dt
import decimal
import hashlib
import itertools
import json
import math
import os
import pickle
import random
import re
from collections import namedtuple

import duckdb

Req = namedtuple("Req", "kind arg")

# The heavy registered queries of analytic_batch, each with oracle SQL and a
# result under the server's 10,000-row response cap.
BATCH_QUERIES = [
    "q1_agg", "q_bloom_join", "q_join_ivm", "q_sum_ivm_retract",
    "q_dedup_ngram_jaccard", "q_tfidf", "q_pagerank", "q_ann_ivf_topk",
    "q_lang_corr_filter_big", "q_stream_window", "q_pipeline_full"]

IVM_KS = (1, 4, 16)

POINT = """o <- mut orders;
check(o[o_custkey] == {k});
ret {{ okey : o[o_orderkey], price : o[o_totalprice], status : o[o_orderstatus] }}"""

JOIN = """o <- mut orders;
l <- mut lineitem;
check(o[o_custkey] == {k} && l[l_orderkey] == o[o_orderkey]);
ret {{ okey : o[o_orderkey], line : l[l_linenumber], qty : l[l_quantity] }}"""

# The CombIdxEx shape: a chain insert into a store table, a maintained sum
# over it, and a point count that index introduction turns into a lookup.
IVM = """let mut out := nil[{{k : int, s : int, c : int}}] in
for kv in [{keys}] :
  set nation := {{ n_nationkey : kv, n_name : "N", n_regionkey : 0 }} :: mut nation;
  set out := {{ k : kv,
    s : fold (n <- mut nation; ret n[n_nationkey]) 0 v acc v + acc,
    c : len(o <- mut orders; check(o[o_custkey] == kv); ret o) }} :: mut out
end;
set result := mut out"""


class Keys:
    """Customer keys from a Zipf(1.0) law over a seeded ranking of all
    customers: a few hot customers, a long tail."""

    def __init__(self, rng, n_cust):
        self.rng = rng
        self.rank = list(range(n_cust))
        rng.shuffle(self.rank)
        self.cum = list(itertools.accumulate(1.0 / r for r in
                                             range(1, n_cust + 1)))

    def __call__(self):
        u = self.rng.random() * self.cum[-1]
        return self.rank[min(bisect.bisect_left(self.cum, u),
                             len(self.rank) - 1)]


# serve_point's mix as one block of ten: 40% point filter, 20% FK join,
# 20% artist listing, 20% album listing. Every block is a seeded shuffle of
# it, and runs end on block boundaries, so every run sees the same mix.
POINT_BLOCK = ["point"] * 4 + ["join"] * 2 + ["artist"] * 2 + ["album"] * 2


def serve_point(rng, n_cust):
    """Endless seeded blocks of the serve_point mix."""
    keys = Keys(rng, n_cust)
    while True:
        for kind in rng.sample(POINT_BLOCK, len(POINT_BLOCK)):
            k = keys()
            if kind == "point":
                yield Req("run", POINT.format(k=k))
            elif kind == "join":
                yield Req("run", JOIN.format(k=k))
            elif kind == "artist":
                # listing bounds 64..127: small answers, like the point reads
                yield Req("get", f"/get_artist_less_than/{64 + k % 64}")
            else:
                yield Req("get", f"/get_album_and_artist/{64 + k % 64}")


def ivm_loop(rng, n_cust):
    """Endless seeded /runc programs; each round uses every K in IVM_KS
    once, in a seeded order, so every run sees the same K mix."""
    keys = Keys(rng, n_cust)
    while True:
        for k in rng.sample(IVM_KS, len(IVM_KS)):
            yield Req("runc", IVM.format(
                keys=", ".join(str(keys()) for _ in range(k))))


def analytic_batch(rng, n_cust):
    """One pass over the heavy query list."""
    return iter([Req("query", q) for q in BATCH_QUERIES])


STREAMS = {"serve_point": serve_point, "ivm_loop": ivm_loop,
           "analytic_batch": analytic_batch}


# --- independent answers -------------------------------------------------

class Oracle:
    def __init__(self, data_dir, oracle_sql, cache_dir):
        self.data_dir, self.cache_dir = data_dir, cache_dir
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"]:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{data_dir}/{t}.parquet')")
        self.oracle_sql = oracle_sql
        self.cache = {}

    def rows(self, sql, params=()):
        cur = self.con.execute(sql, list(params))
        cols = [d[0] for d in cur.description]
        return [dict(zip(cols, r)) for r in cur.fetchall()]

    def expected(self, req):
        """Expected rows (list of dicts) for one request."""
        if req not in self.cache:
            self.cache[req] = self._expected(req)
        return self.cache[req]

    def _expected(self, req):
        if req.kind == "query":
            # registered-query answers depend only on the SQL and the data;
            # keep them across runs, they are the slowest to compute
            sql = self.oracle_sql[req.arg]
            key = hashlib.sha256(f"{self.data_dir}\n{sql}".encode()).hexdigest()
            path = os.path.join(self.cache_dir, f"{req.arg}-{key[:16]}.pickle")
            if os.path.exists(path):
                with open(path, "rb") as f:
                    return pickle.load(f)
            rows = self.rows(sql)
            os.makedirs(self.cache_dir, exist_ok=True)
            with open(path + ".tmp", "wb") as f:
                pickle.dump(rows, f)
            os.replace(path + ".tmp", path)
            return rows
        if req.kind == "get":
            route, n = req.arg.strip("/").split("/")
            if route == "get_artist_less_than":
                return self.rows(
                    "SELECT c_custkey AS artist_id, c_name AS artist "
                    "FROM customer WHERE c_custkey < ? ORDER BY 1 "
                    "LIMIT 10000", [int(n)])
            return self.rows(
                "SELECT o_orderkey AS album_id, c_name AS artist FROM orders "
                "JOIN customer ON o_custkey = c_custkey WHERE c_custkey < ? "
                "ORDER BY 1 LIMIT 10000", [int(n)])
        if req.kind == "run":
            k = int(re.search(r"o_custkey\] == (\d+)", req.arg).group(1))
            if "lineitem" in req.arg:
                return self.rows(
                    "SELECT o_orderkey AS okey, l_linenumber AS line, "
                    "l_quantity AS qty FROM orders JOIN lineitem "
                    "ON l_orderkey = o_orderkey WHERE o_custkey = ?", [k])
            return self.rows(
                "SELECT o_orderkey AS okey, o_totalprice AS price, "
                "o_orderstatus AS status FROM orders WHERE o_custkey = ?", [k])
        if req.kind == "runc":
            keys = [int(x) for x in
                    req.arg.split("for kv in [")[1].split("]")[0].split(",")]
            base = self.rows("SELECT SUM(n_nationkey) AS s FROM nation")[0]["s"]
            out, s = [], int(base)
            for k in keys:
                s += k
                c = self.rows("SELECT COUNT(*) AS c FROM orders "
                              "WHERE o_custkey = ?", [k])[0]["c"]
                out.append({"k": k, "s": s, "c": c})
            return out
        raise ValueError(req.kind)


def _norm(v):
    """A comparable form of one JSON or DuckDB value."""
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return float(v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=dt.timezone.utc)
        return ("ts", math.floor(v.timestamp() * 1000 + 1e-6))
    if isinstance(v, dt.date):
        return ("date", v.isoformat())
    if isinstance(v, str):
        if len(v) >= 19 and v[4] == "-" and v[10] == "T":
            try:
                return _norm(dt.datetime.fromisoformat(v))
            except ValueError:
                pass
        return v
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return str(v)


def _close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def _sort_key(row):
    return tuple((0, "") if v is None else (1, repr(v)) for v in row)


def same_rows(got, expected):
    """Row-multiset equality, columns matched by name; Spark's JSON drops
    null fields, so a missing key reads as null. Floats compare with a
    1e-6 relative tolerance: the JSON text of a float32 is not exact."""
    cols = sorted({c for r in expected for c in r} | {c for r in got for c in r})
    g = sorted((tuple(_norm(r.get(c)) for c in cols) for r in got), key=_sort_key)
    e = sorted((tuple(_norm(r.get(c)) for c in cols) for r in expected),
               key=_sort_key)
    if len(g) != len(e):
        return False
    if all(_close(a, b) for a, b in zip(g, e)):
        return True
    # float noise can reorder near-equal rows: retry with rounded keys
    def rk(row):
        return tuple((0, "") if v is None else
                     (1, repr(round(v, 4) if isinstance(v, float) else v))
                     for v in row)
    return all(_close(a, b) for a, b in zip(sorted(g, key=rk), sorted(e, key=rk)))


def check(oracle, req, status, body):
    """True when the response is a 200 whose rows equal the answer."""
    if status != 200:
        return False
    try:
        got = json.loads(body)
    except ValueError:
        return False
    return isinstance(got, list) and same_rows(got, oracle.expected(req))
