"""Input generation: every table the benchmark reads is made here.

The TPC-H tables come from DuckDB's bundled ``dbgen`` (deterministic for a
given scale factor); ``events``, ``documents`` and ``embeddings`` are drawn
from the run's seed. Everything is written as parquet with the column
types ``g4s_spark.sources`` expects (keys BIGINT, money DOUBLE, dates
TIMESTAMP), so the program and the DuckDB oracle read the same files.
"""

from __future__ import annotations

import hashlib
import os
import random

from dataclasses import dataclass

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

# column lists and casts of the engine's TPC-H-ish schema
TPCH_SELECT = {
    "region": "CAST(r_regionkey AS INTEGER) AS r_regionkey, r_name",
    "nation": "CAST(n_nationkey AS INTEGER) AS n_nationkey, n_name, "
              "CAST(n_regionkey AS INTEGER) AS n_regionkey",
    "customer": "CAST(c_custkey AS BIGINT) AS c_custkey, c_name, "
                "CAST(c_nationkey AS INTEGER) AS c_nationkey, "
                "CAST(c_acctbal AS DOUBLE) AS c_acctbal, c_mktsegment",
    "supplier": "CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, "
                "CAST(s_nationkey AS INTEGER) AS s_nationkey, "
                "CAST(s_acctbal AS DOUBLE) AS s_acctbal",
    "part": "CAST(p_partkey AS BIGINT) AS p_partkey, p_name, p_brand, p_type, "
            "CAST(p_size AS INTEGER) AS p_size, "
            "CAST(p_retailprice AS DOUBLE) AS p_retailprice",
    "orders": "CAST(o_orderkey AS BIGINT) AS o_orderkey, "
              "CAST(o_custkey AS BIGINT) AS o_custkey, o_orderstatus, "
              "CAST(o_totalprice AS DOUBLE) AS o_totalprice, "
              "CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority",
    "lineitem": "CAST(l_orderkey AS BIGINT) AS l_orderkey, "
                "CAST(l_partkey AS BIGINT) AS l_partkey, "
                "CAST(l_suppkey AS BIGINT) AS l_suppkey, "
                "CAST(l_linenumber AS INTEGER) AS l_linenumber, "
                "CAST(l_quantity AS DOUBLE) AS l_quantity, "
                "CAST(l_extendedprice AS DOUBLE) AS l_extendedprice, "
                "CAST(l_discount AS DOUBLE) AS l_discount, "
                "CAST(l_tax AS DOUBLE) AS l_tax, l_returnflag, l_linestatus, "
                "CAST(l_shipdate AS TIMESTAMP) AS l_shipdate",
}
TABLES = list(TPCH_SELECT) + [
    "events", "documents", "embeddings", "users", "follows", "matrix",
]

WORDS = (
    "the a data spark graph join scan merge hash sort window stream batch "
    "query filter order part line key value row column table vector agg "
    "group big small fast slow customer supplier nation region edge node"
).split()
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
EMB_DIM = 64
EVENTS_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01 UTC


@dataclass(frozen=True)
class Sizes:
    """Sizes of the generated inputs."""

    sf: float
    n_events: int
    n_docs: int
    n_vecs: int
    n_users: int          # seeded follower digraph (cc / scc)
    n_follows: int
    mat_dim: int          # seeded sparse matrices (mxm / reduce_rows)
    mat_row_nnz: int


def generate(work_dir: str, seed: int, sizes: Sizes) -> str:
    """Write every input table to a directory under ``work_dir`` named
    after the seed and the sizes, and return it. The seed-independent
    TPC-H files are made once per scale factor and hard-linked into each
    seed's directory."""
    sf = sizes.sf
    tag = hashlib.sha1(repr(sizes).encode()).hexdigest()[:8]
    out_dir = os.path.join(work_dir, f"inputs_seed{seed}_{tag}")
    if os.path.exists(os.path.join(out_dir, "_DONE")):
        return out_dir
    tpch_dir = _tpch(work_dir, sf)
    os.makedirs(out_dir, exist_ok=True)
    for name in TPCH_SELECT:
        dst = os.path.join(out_dir, f"{name}.parquet")
        if not os.path.exists(dst):
            os.link(os.path.join(tpch_dir, f"{name}.parquet"), dst)
    rng = random.Random(seed)
    pq.write_table(_events(rng, sizes.n_events), f"{out_dir}/events.parquet")
    pq.write_table(_documents(rng, sizes.n_docs), f"{out_dir}/documents.parquet")
    pq.write_table(_embeddings(rng, sizes.n_vecs), f"{out_dir}/embeddings.parquet")
    users, follows = _follows(rng, sizes.n_users, sizes.n_follows)
    pq.write_table(users, f"{out_dir}/users.parquet")
    pq.write_table(follows, f"{out_dir}/follows.parquet")
    # four part files, so the kernel's scan runs four tasks wide
    mat = _matrix(rng, sizes.mat_dim, sizes.mat_row_nnz)
    os.makedirs(f"{out_dir}/matrix.parquet", exist_ok=True)
    step = -(-mat.num_rows // 4)
    for k in range(4):
        pq.write_table(mat.slice(k * step, step), f"{out_dir}/matrix.parquet/part-{k}.parquet")
    open(os.path.join(out_dir, "_DONE"), "w").close()
    return out_dir


def _tpch(work_dir: str, sf: float) -> str:
    out_dir = os.path.join(work_dir, f"tpch_sf{sf}")
    if os.path.exists(os.path.join(out_dir, "_DONE")):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"CALL dbgen(sf={sf})")
    for name, cols in TPCH_SELECT.items():
        con.execute(
            f"COPY (SELECT {cols} FROM {name}) TO "
            f"'{out_dir}/{name}.parquet' (FORMAT PARQUET)"
        )
    con.close()
    open(os.path.join(out_dir, "_DONE"), "w").close()
    return out_dir


def _events(rng: random.Random, n: int) -> pa.Table:
    """Per-user click streams with gaps both inside and beyond the
    sessionization gap, so sessions split at seeded places."""
    t, ts, n_users = EVENTS_EPOCH_US, [], max(4, n // 40)
    for _ in range(n):
        t += rng.choice((5, 20, 60, 240, 900, 2400, 4000)) * 1_000_000
        ts.append(t)
    return pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(n_users) for _ in range(n)], pa.int64()),
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(n)],
        "value": [round(rng.uniform(1, 500), 2) for _ in range(n)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n)],
    })


def _documents(rng: random.Random, n: int) -> pa.Table:
    """Random word documents; about one in five is a one-word edit of an
    earlier one, so MinHash LSH has real near-duplicate pairs to find."""
    texts: list[str] = []
    for _ in range(n):
        if texts and rng.random() < 0.2:
            words = rng.choice(texts).split()
            words[rng.randrange(len(words))] = rng.choice(WORDS)
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(WORDS) for _ in range(rng.randint(20, 60))))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [rng.choice(("en", "de", "fr")) for _ in range(n)],
        "source": [f"src{i % 3}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: random.Random, n: int) -> pa.Table:
    """Gaussian vectors around ten seeded centroids (label = centroid)."""
    cents = [[rng.gauss(0, 1) for _ in range(EMB_DIM)] for _ in range(10)]
    labels = [rng.randrange(10) for _ in range(n)]
    vecs = [[c + rng.gauss(0, 0.6) for c in cents[lab]] for lab in labels]
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def _follows(rng: random.Random, n: int, m: int) -> tuple[pa.Table, pa.Table]:
    """A follower digraph over ``n`` users: a ring through nine tenths of
    them plus ``m`` random chords (one large strongly connected core of
    small diameter), users that only follow into the core (singleton
    components) and five users with no arcs."""
    core, isolated = n - n // 10, 5
    arcs = {(i, (i + 1) % core) for i in range(core)}
    while len(arcs) < core + m:
        a, b = rng.randrange(core), rng.randrange(core)
        if a != b:
            arcs.add((a, b))
    arcs |= {(u, rng.randrange(core)) for u in range(core, n - isolated)}
    src, dst = zip(*sorted(arcs))
    users = pa.table({"id": pa.array(range(n), pa.int64())})
    return users, pa.table({"src": pa.array(src, pa.int64()), "dst": pa.array(dst, pa.int64())})


def _matrix(rng: random.Random, dim: int, row_nnz: int) -> pa.Table:
    """Two sparse ``dim`` x ``dim`` integer matrices, A and B, in one
    (m, i, j, v) table; small integer values keep every product exact."""
    m, i, j, v = [], [], [], []
    for name in ("A", "B"):
        for r in range(dim):
            for c in rng.sample(range(dim), row_nnz):
                m.append(name)
                i.append(r)
                j.append(c)
                v.append(rng.randint(1, 9))
    return pa.table({"m": m, "i": pa.array(i, pa.int64()), "j": pa.array(j, pa.int64()),
                     "v": pa.array(v, pa.int64())})
