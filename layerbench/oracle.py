"""DuckDB oracle: the expected answer of every operation, as a digest.

The digest is order-insensitive and type-normalised, so a Spark result
and a DuckDB result compare equal when they hold the same rows: numbers
compare by value (integral values as integers, others to 9 significant
digits), timestamps by ISO text, and rows as a sorted multiset.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import os

import duckdb

from data import TABLES
from workloads import TEMPLATES, Facts, Op


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        if isinstance(v, int) or (f.is_integer() and abs(f) < 2**53):
            return int(v)
        return float(f"{f:.9g}")
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return str(v)


def digest(rows) -> tuple[int, str]:
    """(row count, sha1 of the sorted normalised rows)."""
    keys = sorted(repr(tuple(_norm(x) for x in r)) for r in rows)
    return len(keys), hashlib.sha1("\n".join(keys).encode()).hexdigest()


class Oracle:
    def __init__(self, inputs_dir: str):
        self.con = duckdb.connect()
        for t in TABLES:
            path = f"{inputs_dir}/{t}.parquet"
            if os.path.isdir(path):
                path += "/*.parquet"
            self.con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{path}')")
        self._memo: dict[Op, tuple[int, str]] = {}

    def facts(self) -> Facts:
        def col(sql):
            return tuple(r[0] for r in self.con.execute(sql).fetchall())

        return Facts(
            customers_with_orders=col(
                "SELECT c_custkey FROM customer WHERE c_custkey IN "
                "(SELECT o_custkey FROM orders) ORDER BY 1"),
            customers_without_orders=col(
                "SELECT c_custkey FROM customer WHERE c_custkey NOT IN "
                "(SELECT o_custkey FROM orders) ORDER BY 1"),
            supplier_nations=col(
                "SELECT DISTINCT n_name FROM nation JOIN supplier "
                "ON s_nationkey = n_nationkey ORDER BY 1"),
            part_sizes=col(
                "SELECT DISTINCT p_size FROM part JOIN lineitem "
                "ON l_partkey = p_partkey ORDER BY 1"),
            core_users=col(
                "SELECT src FROM follows INTERSECT SELECT dst FROM follows ORDER BY 1"),
            n_vecs=col("SELECT count(*) FROM embeddings")[0],
        )

    def expected(self, op: Op) -> tuple[int, str]:
        if op not in self._memo:
            sql = TEMPLATES[op.template].oracle(op.kwargs)
            self._memo[op] = digest(self.con.execute(sql).fetchall())
        return self._memo[op]
