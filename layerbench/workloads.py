"""Workload templates and the seeded operation stream.

A template is one kind of operation: the layer it drives, how its
parameters are drawn from the seed, how it calls ``g4s_spark`` (through
the :class:`layers.Layers` facade, so every call is a layer boundary) and
the DuckDB SQL that computes the same answer.

Every pass of a run holds each template of the workload a fixed number
of times, in a seeded order, so drift in the host hits all templates
alike and the operation list is identical on every commit.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from typing import Callable

from g4s_spark.graph.tpch import (
    CUSTOMER_OFF, EDGES_SQL_CTE, NATION_OFF, ORDER_OFF, SUPPLIER_OFF,
)

# TPC-H reference data: dbgen's fixed market segments
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


@dataclass(frozen=True)
class Facts:
    """What the parameter draws know about the generated inputs, so that
    the seed moves parameters within one cost class: AQE prunes a plan
    whose input is empty, so a lookup that matches nothing is a cheaper
    operation than one that matches."""

    customers_with_orders: tuple[int, ...]     # c_custkey
    customers_without_orders: tuple[int, ...]
    supplier_nations: tuple[str, ...]          # nations with suppliers
    part_sizes: tuple[int, ...]                # sizes of parts that sold
    core_users: tuple[int, ...]                # users on the follower ring
    n_vecs: int


@dataclass(frozen=True)
class Template:
    name: str
    layer: str                                     # layer the call enters
    draw: Callable[[random.Random, Facts], dict]   # seeded parameters
    run: Callable[..., list]                       # (Layers, params) -> rows
    oracle: Callable[[dict], str]                  # params -> DuckDB SQL
    # samples per pass, relative to the workload's; sub-second templates
    # get more, because GC pauses and scheduling jitter are a larger
    # share of their latency
    weight: int = 1


@dataclass(frozen=True)
class Op:
    template: str
    params: tuple  # sorted (name, value) pairs, so an Op is hashable

    @property
    def kwargs(self) -> dict:
        return dict(self.params)


def _cust(rng, keys) -> str:
    return f"Customer#{rng.choice(keys):09d}"  # TPC-H's c_name for a key


def _no_params(rng, f):
    return {}


# --- cypher_read: parameterised MATCH ... RETURN over the TPC-H graph -----

def _cypher(text: str):
    return lambda L, p: L.query(text, p or None)


CYPHER_READ = [
    Template(
        "hop1_out", "cypher",
        lambda rng, f: {"name": _cust(rng, f.customers_with_orders)},
        _cypher("MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE c.name = $name RETURN o"),
        lambda p: f"""SELECT DISTINCT {ORDER_OFF} + o_orderkey FROM orders
                      JOIN customer ON o_custkey = c_custkey WHERE c_name = '{p["name"]}'""",
    ),
    Template(
        "hop1_in", "cypher",
        lambda rng, f: {"nation": rng.choice(f.supplier_nations)},
        _cypher("MATCH (n:Nation)<-[:FROM_NATION]-(s:Supplier) WHERE n.name = $nation RETURN s"),
        lambda p: f"""SELECT DISTINCT {SUPPLIER_OFF} + s_suppkey FROM supplier
                      JOIN nation ON s_nationkey = n_nationkey WHERE n_name = '{p["nation"]}'""",
    ),
    Template(
        "hop2_in", "cypher",
        lambda rng, f: {"size": rng.choice(f.part_sizes)},
        _cypher("MATCH (p:Part)<-[:OF_PART]-(l:Lineitem)-[:BY_SUPP]->(s:Supplier) "
                "WHERE p.size = $size RETURN s"),
        lambda p: f"""SELECT DISTINCT {SUPPLIER_OFF} + l_suppkey FROM lineitem
                      JOIN part ON l_partkey = p_partkey WHERE p_size = {p["size"]}""",
    ),
    Template(
        "fork", "cypher",
        lambda rng, f: {"nation": rng.choice(f.supplier_nations), "seg": rng.choice(SEGMENTS)},
        _cypher("MATCH (c:Customer)-[:FROM_NATION]->(n:Nation)<-[:FROM_NATION]-(s:Supplier) "
                "WHERE n.name = $nation AND c.mktsegment = $seg RETURN c, s"),
        lambda p: f"""SELECT DISTINCT {CUSTOMER_OFF} + c_custkey, {SUPPLIER_OFF} + s_suppkey
                      FROM customer JOIN nation ON c_nationkey = n_nationkey
                      JOIN supplier ON s_nationkey = n_nationkey
                      WHERE n_name = '{p["nation"]}' AND c_mktsegment = '{p["seg"]}'""",
    ),
    Template(
        "scan_agg_order", "cypher",
        lambda rng, f: {"seg": rng.choice(SEGMENTS)},
        _cypher("MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) WHERE c.mktsegment = $seg "
                "RETURN n, count(c) AS k ORDER BY k DESC"),
        lambda p: f"""SELECT {NATION_OFF} + n_nationkey, count(*) FROM customer
                      JOIN nation ON c_nationkey = n_nationkey
                      WHERE c_mktsegment = '{p["seg"]}' GROUP BY n_nationkey""",
    ),
    Template(
        "optional", "cypher",
        # customers without orders: the NULL-extension path
        lambda rng, f: {"name": _cust(rng, f.customers_without_orders)},
        _cypher("MATCH (c:Customer) WHERE c.name = $name "
                "OPTIONAL MATCH (c)-[:PLACED]->(o:Order) RETURN c, o"),
        lambda p: f"""SELECT DISTINCT {CUSTOMER_OFF} + c_custkey, {ORDER_OFF} + o_orderkey
                      FROM customer LEFT JOIN orders ON o_custkey = c_custkey
                      WHERE c_name = '{p["name"]}'""",
    ),
    Template(
        "varlen", "cypher",
        lambda rng, f: {"name": _cust(rng, f.customers_with_orders)},
        _cypher("MATCH (c:Customer)-[*1..2]->(x) WHERE c.name = $name RETURN x"),
        lambda p: f"""WITH {EDGES_SQL_CTE.strip()},
            c AS (SELECT {CUSTOMER_OFF} + c_custkey AS id FROM customer
                  WHERE c_name = '{p["name"]}')
            SELECT e.dst FROM c JOIN graph_edges e ON e.src = c.id
            UNION
            SELECT e2.dst FROM c JOIN graph_edges e1 ON e1.src = c.id
            JOIN graph_edges e2 ON e2.src = e1.dst""",
    ),
    Template(
        "with_agg", "cypher",
        lambda rng, f: {"min_orders": rng.randint(5, 12)},
        _cypher("MATCH (c:Customer)-[:PLACED]->(o:Order) WITH c, count(o) AS k "
                "WHERE k > $min_orders RETURN c, k"),
        lambda p: f"""SELECT {CUSTOMER_OFF} + o_custkey, count(*) FROM orders
                      GROUP BY o_custkey HAVING count(*) > {p["min_orders"]}""",
    ),
    # the one write: GraphDB.update is lazy, so the read that forces the
    # new graph is timed with it and checks it
    Template(
        "set_then_read", "cypher",
        lambda rng, f: {"name": _cust(rng, f.customers_with_orders),
                        "bal": round(rng.uniform(-999, 9999), 2)},
        lambda L, p: L.read(
            L.update(f"MATCH (c:Customer) WHERE c.name = '{p['name']}' "
                     f"SET c.acctbal = {p['bal']}"),
            f"MATCH (c:Customer) WHERE c.acctbal = {p['bal']} RETURN c"),
        lambda p: f"""SELECT {CUSTOMER_OFF} + c_custkey FROM customer
                      WHERE CASE WHEN c_name = '{p["name"]}' THEN {p["bal"]}
                            ELSE c_acctbal END = {p["bal"]}""",
    ),
]


# --- analytics: operators, grblas, functions and streaming calls ---------

def _bfs(L, p):
    from g4s_spark.operators import bfs

    return L.call("operators", lambda: bfs(L.graph, [p["src"]]).select("id", "dist"),
                  rounds=lambda rows: max(d for _, d in rows) + 1)


def _pagerank(L, p):
    from g4s_spark.operators import pagerank

    return L.call("operators", lambda: pagerank(L.graph, iters=p["iters"]), rounds=p["iters"])


def _cc(L, p):
    from g4s_spark.operators import connected_components

    return L.call("operators", lambda: connected_components(L.graph))


def _scc(L, p):
    from g4s_spark.operators import strongly_connected_components

    return L.call("operators", lambda: strongly_connected_components(
        L.graph.edges.select("src", "dst")))


def _matrices(L):
    from g4s_spark.grblas import Matrix

    mat = L.table("matrix")
    a = Matrix.from_df(mat.filter("m = 'A'"), "i", "j", "v")
    b = Matrix.from_df(mat.filter("m = 'B'"), "i", "j", "v")
    return a, b


def _mxm(semiring_name):
    def run(L, p):
        from g4s_spark import grblas

        def call():
            a, b = _matrices(L)
            c = grblas.mxm(a, b, grblas.SEMIRINGS[semiring_name])
            if c.df.schema["v"].dataType.typeName() == "boolean":
                # existence semiring: the row's pattern size
                return c.df.groupBy("i").count()
            return grblas.reduce_rows(c, "plus").df
        return L.call("grblas", call)
    return run


def _reduce_rows(L, p):
    from g4s_spark.grblas import reduce_rows

    return L.call("grblas", lambda: reduce_rows(_matrices(L)[0], p["monoid"]).df)


def _q13(L, p):
    from g4s_spark.functions.relational import q13_order_distribution

    return L.call("functions", lambda: q13_order_distribution(L.tables()))


def _minhash(L, p):
    from g4s_spark.functions.dedup import minhash_lsh_pairs

    return L.call("functions", lambda: minhash_lsh_pairs(
        L.table("documents"), materialize=True, use_cache=True))


def _ann(L, p):
    from pyspark.sql import functions as F
    from g4s_spark.functions.similarity import brute_force_topk

    def call():
        emb = L.table("embeddings")
        q = emb.filter(F.col("vec_id").isin(list(p["queries"])))
        return brute_force_topk(emb, q, k=p["k"]).select("q_id", "n_id", "rank", "cos")
    return L.call("functions", call)


def _sessions(L, p):
    from g4s_spark.streaming import session_counts

    return L.call("streaming", lambda: session_counts(L.table("events"), gap_min=p["gap"]))


def _pagerank_sql(p) -> str:
    its, prev = [], "pr0"
    for t in range(1, p["iters"] + 1):
        its.append(f"""it{t} AS (
            SELECT u.id, (1 - 0.85) / c.n + 0.85 * COALESCE(s.mass, 0) AS pr
            FROM users u CROSS JOIN cnt c LEFT JOIN (
                SELECT f.dst AS id, sum(p.pr / dg.deg) AS mass FROM {prev} p
                JOIN follows f ON p.id = f.src JOIN deg dg ON dg.src = p.id
                GROUP BY f.dst) s ON s.id = u.id)""")
        prev = f"it{t}"
    return f"""WITH cnt AS (SELECT count(*) AS n FROM users),
        deg AS (SELECT src, count(*) AS deg FROM follows GROUP BY src),
        pr0 AS (SELECT u.id, 1.0 / c.n AS pr FROM users u CROSS JOIN cnt c),
        {", ".join(its)}
        SELECT id, pr FROM {prev}"""


def _cos_sql(a: str, b: str, dim: int = 64) -> str:
    """Cosine as a left-to-right double sum, the order Spark's fold uses."""
    def dot(x, y):
        return " + ".join(f"CAST({x}[{i}] AS DOUBLE) * CAST({y}[{i}] AS DOUBLE)"
                          for i in range(1, dim + 1))
    return f"(({dot(a, b)}) / (sqrt({dot(a, a)}) * sqrt({dot(b, b)})))"


def _minhash_sql(p) -> str:
    from g4s_spark.functions.dedup import MINHASH_BANDS, MINHASH_K

    rows = MINHASH_K // MINHASH_BANDS
    hs = ", ".join(f"min(md5(shingle || '#{s}')) AS h{s}" for s in range(MINHASH_K))
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5("
        + " || ".join(f"h{b * rows + r}" for r in range(rows)) + ") AS key FROM sig"
        for b in range(MINHASH_BANDS)
    )
    return f"""WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') t
                             FROM documents),
        sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
               FROM toks, unnest(generate_series(1, len(t) - 2)) AS u(i) WHERE len(t) >= 3),
        sig AS (SELECT doc_id, {hs} FROM sh GROUP BY doc_id),
        bands AS ({bands})
        SELECT DISTINCT l.doc_id, r.doc_id FROM bands l JOIN bands r
        ON l.band = r.band AND l.key = r.key WHERE l.doc_id < r.doc_id"""


def _follows_cc_sql(p) -> str:
    return """WITH RECURSIVE sym(a, b) AS (
            SELECT src, dst FROM follows UNION SELECT dst, src FROM follows),
        walk(id, root) AS (
            SELECT id, id FROM users
            UNION SELECT s.b, w.root FROM walk w JOIN sym s ON s.a = w.id)
        SELECT id, min(root) FROM walk GROUP BY id"""


def _follows_scc_sql(p) -> str:
    # v and w share a component iff each reaches the other; the
    # component id is the smallest such w
    return """WITH RECURSIVE reach(src, dst) AS (
            SELECT src, src FROM follows UNION SELECT dst, dst FROM follows
            UNION SELECT r.src, f.dst FROM reach r JOIN follows f ON f.src = r.dst)
        SELECT a.src, min(a.dst) FROM reach a
        JOIN reach b ON b.src = a.dst AND b.dst = a.src GROUP BY a.src"""


ANALYTICS = [
    Template(
        "bfs", "operators",
        # sources on the ring, so every BFS reaches the whole core
        lambda rng, f: {"src": rng.choice(f.core_users)},
        _bfs,
        lambda p: f"""WITH RECURSIVE walk(id, d) AS (SELECT CAST({p["src"]} AS BIGINT), 0
                UNION SELECT f.dst, w.d + 1 FROM walk w JOIN follows f ON f.src = w.id
                WHERE w.d < 12)
            SELECT id, min(d) FROM walk GROUP BY id""",
    ),
    Template("pagerank", "operators", lambda rng, f: {"iters": 3}, _pagerank, _pagerank_sql),
    Template("components", "operators", _no_params, _cc, _follows_cc_sql),
    Template("scc", "operators", _no_params, _scc, _follows_scc_sql),
    Template(
        "mxm_plus_times", "grblas", _no_params, _mxm("plus_times"),
        lambda p: """SELECT a.i, sum(a.v * b.v) FROM matrix a JOIN matrix b
                     ON a.j = b.i AND a.m = 'A' AND b.m = 'B' GROUP BY a.i""",
    ),
    Template(
        "mxm_any_pair", "grblas", _no_params, _mxm("any_pair"),
        lambda p: """SELECT i, count(*) FROM (SELECT DISTINCT a.i, b.j FROM matrix a
                     JOIN matrix b ON a.j = b.i AND a.m = 'A' AND b.m = 'B') GROUP BY i""",
    ),
    Template(
        "reduce_rows", "grblas", lambda rng, f: {"monoid": rng.choice(("plus", "max"))},
        _reduce_rows,
        lambda p: f"SELECT i, {p['monoid'].replace('plus', 'sum')}(v) FROM matrix "
                  "WHERE m = 'A' GROUP BY i",
        weight=2,
    ),
    Template(
        "rel_q13", "functions", _no_params, _q13,
        lambda p: """SELECT c_count, count(*) FROM (
            SELECT c_custkey, count(o_orderkey) AS c_count FROM customer
            LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey) GROUP BY c_count""",
        weight=2,
    ),
    Template("minhash_dedup", "functions", _no_params, _minhash, _minhash_sql, weight=2),
    Template(
        "ann_topk", "functions",
        lambda rng, f: {"queries": tuple(sorted(rng.sample(range(f.n_vecs), 4))), "k": 5},
        _ann,
        lambda p: f"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
                                 WHERE vec_id IN {tuple(p["queries"])}),
            scored AS (SELECT q.q_id, e.vec_id AS n_id, {_cos_sql('q.qv', 'e.embedding')} AS cos
                       FROM q JOIN embeddings e ON e.vec_id <> q.q_id),
            ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY cos DESC, n_id) AS rank FROM scored)
            SELECT q_id, n_id, rank, floor(cos * 10000 + 0.5) / 10000
            FROM ranked WHERE rank <= {p["k"]}""",
        weight=2,
    ),
    Template(
        "sessionize", "streaming", lambda rng, f: {"gap": rng.choice((15, 30, 60))},
        _sessions,
        lambda p: f"""WITH g AS (
                SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL OR
                    epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > {p["gap"]} * 60000
                    THEN 1 ELSE 0 END AS new_session
                FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            s AS (SELECT user_id, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS UNBOUNDED PRECEDING) AS sid FROM g)
            SELECT user_id, count(DISTINCT sid), count(*) FROM s GROUP BY user_id""",
        weight=2,
    ),
]

WORKLOADS = {"cypher_read": CYPHER_READ, "analytics": ANALYTICS}


def tpch_graph(spark, inputs: str):
    """The TPC-H property graph, as the library builds and caches it."""
    from g4s_spark.graph import build_graph

    return build_graph(spark, inputs)


def follows_graph(spark, inputs: str):
    """The seeded follower digraph as a cached PropertyGraph."""
    from pyspark.sql import functions as F
    from g4s_spark.graph import PropertyGraph
    from g4s_spark.sources import load_table

    users, follows = load_table(spark, inputs, "users"), load_table(spark, inputs, "follows")
    return PropertyGraph(
        users.select("id", F.lit("User").alias("label")),
        follows.select("src", "dst", F.lit("FOLLOWS").alias("type")),
        spark,
    ).cache()


# the graph each workload's set-up builds and its templates query
GRAPHS = {"cypher_read": tpch_graph, "analytics": follows_graph}
TEMPLATES = {t.name: t for ts in WORKLOADS.values() for t in ts}


def _op(t: Template, rng: random.Random, facts: Facts) -> Op:
    return Op(t.name, tuple(sorted(t.draw(rng, facts).items())))


def operation_stream(workload: str, seed: int, facts: Facts, passes: int,
                     per_pass: int) -> tuple[list[Op], list[Op]]:
    """(warm-up list, timed list). The warm-up holds each template once,
    in registry order; every timed pass holds each template ``per_pass``
    x its weight times with fresh parameters, shuffled."""
    templates = WORKLOADS[workload]
    rng = random.Random(f"{workload}/{seed}")
    warm = [_op(t, rng, facts) for t in templates]
    timed: list[Op] = []
    for _ in range(passes):
        batch = [_op(t, rng, facts) for t in templates for _ in range(per_pass * t.weight)]
        rng.shuffle(batch)
        timed += batch
    return warm, timed
