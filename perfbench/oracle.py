"""DuckDB oracle for the `relational` workload.

Each generated operation has an oracle query over the same parquet tables.
Results are compared as row multisets (or in order, where the shape orders
its output), with doubles equal to a relative 1e-9: Spark and DuckDB may sum
doubles in a different order. The primary key the MetaFrame inferred is
checked where the paper defines one (groupBy, dropDuplicates, distinct).
"""
import datetime
import math

import duckdb

TABLES = "region nation customer supplier part orders lineitem documents".split()

# tables each shape loads, for the input-rows count
SHAPE_TABLES = {
    "q1_filter_project": ["lineitem"],
    "q2_groupby_agg": ["lineitem"],
    "q3_join_agg": ["orders", "lineitem"],
    "q4_dropdup": ["lineitem"],
    "q5_window_topk": ["lineitem"],
    "q6_sort_limit": ["orders"],
    "q7_distinct": ["lineitem"],
    "q8_union_agg": ["customer", "supplier"],
    "q9_profit_shape": ["lineitem", "part", "supplier", "nation", "orders"],
    "q18_volume_shape": ["lineitem", "orders", "customer"],
}


def _d(x):
    return f"CAST({x} AS DOUBLE)"


def oracle(op):
    """(sql, ordered, expected primary key or None) for one operation."""
    s, p = op["shape"], op["params"]
    if s == "q1_filter_project":
        return f"SELECT count(*) FROM lineitem WHERE l_quantity > {_d(p['t'])}", False, None
    if s == "q2_groupby_agg":
        keys = p["keys"].split(",")
        k = ", ".join(keys)
        return (f"SELECT {k}, sum(l_quantity) AS sum_qty, avg(l_extendedprice) AS avg_price, "
                f"count(*) AS n FROM lineitem WHERE l_discount <= {_d(p['d'])} GROUP BY {k}",
                False, keys)
    if s == "q3_join_agg":
        k = p["key"]
        return (f"SELECT {k}, sum(l_extendedprice) AS sum_price FROM orders "
                f"JOIN lineitem ON o_orderkey = l_orderkey "
                f"WHERE o_totalprice > {_d(p['p'])} GROUP BY {k}", False, [k])
    if s == "q4_dropdup":
        return (f"SELECT count(DISTINCT {p['key']}) FROM lineitem "
                f"WHERE l_shipdate >= TIMESTAMP '{p['since']}'", False, [p["key"]])
    if s == "q5_window_topk":
        k = p["pkey"]
        return (f"SELECT {k}, rn, l_extendedprice FROM (SELECT {k}, l_extendedprice, "
                f"row_number() OVER (PARTITION BY {k} ORDER BY l_extendedprice DESC) AS rn "
                f"FROM lineitem WHERE l_quantity <= {_d(p['q'])}) WHERE rn <= {p['k']}",
                False, None)
    if s == "q6_sort_limit":
        return (f"SELECT o_totalprice FROM orders WHERE o_orderstatus = '{p['status']}' "
                f"ORDER BY o_totalprice DESC LIMIT {p['k']}", True, None)
    if s == "q7_distinct":
        return (f"SELECT count(DISTINCT {p['col']}) FROM lineitem "
                f"WHERE l_linenumber <= {p['maxline']}", False, [p["col"]])
    if s == "q8_union_agg":
        a = _d(p["a"])
        return (f"SELECT count(DISTINCT key) FROM (SELECT c_custkey AS key FROM customer "
                f"WHERE c_acctbal > {a} UNION ALL SELECT s_suppkey FROM supplier "
                f"WHERE s_acctbal > {a})", False, ["key"])
    if s == "q9_profit_shape":
        return (f"SELECT n_name, year(o_orderdate) AS o_year, "
                f"sum(l_extendedprice * (1.0 - l_discount)) AS profit FROM lineitem "
                f"JOIN part ON l_partkey = p_partkey JOIN supplier ON l_suppkey = s_suppkey "
                f"JOIN nation ON s_nationkey = n_nationkey "
                f"JOIN orders ON l_orderkey = o_orderkey "
                f"WHERE p_size <= {p['size']} GROUP BY n_name, year(o_orderdate)",
                False, ["n_name", "o_year"])
    if s == "q18_volume_shape":
        return (f"WITH big AS (SELECT l_orderkey, sum(l_quantity) AS sum_qty FROM lineitem "
                f"GROUP BY l_orderkey HAVING sum(l_quantity) > {_d(p['t'])}) "
                f"SELECT c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty FROM big "
                f"JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey "
                f"ORDER BY sum_qty DESC, o_orderkey LIMIT {p['limit']}", True, None)
    raise ValueError(f"unknown shape {s}")


def _norm(v):
    if isinstance(v, str):
        try:
            return datetime.datetime.fromisoformat(v)
        except ValueError:
            return v
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (int, float)):
        return float(v)
    return v


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _key(row):
    return tuple((0, "") if v is None else (1, str(v)) if not isinstance(v, float)
                 else (2, round(v, 6)) for v in row)


class Oracle:
    def __init__(self, data_dir):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")

    def check(self, op, result):
        """None when the result matches the oracle, else the first difference."""
        sql, ordered, pk = oracle(op)
        want = [tuple(_norm(v) for v in r) for r in self.con.execute(sql).fetchall()]
        if "count" in result:
            got = [(float(result["count"]),)]
        else:
            got = [tuple(_norm(v) for v in r) for r in result["rows"]]
        if pk is not None and result.get("pk") != pk:
            return f"primary key {result.get('pk')} != {pk}"
        if not ordered:
            got, want = sorted(got, key=_key), sorted(want, key=_key)
        if len(got) != len(want):
            return f"{len(got)} rows != oracle {len(want)}"
        for g, w in zip(got, want):
            if len(g) != len(w) or not all(_same(a, b) for a, b in zip(g, w)):
                return f"row {g} != oracle {w}"
        return None
