"""``olap_wire`` op types: ClickHouse-dialect SELECTs over the native door,
each with a DuckDB twin over the same generated parquet for the expected
result.

Money aggregates sum per-row integer cents (``round(price * 100)``), so
both engines compute exact integers in double precision and the
order-insensitive hash cannot flip on summation order.
"""

from __future__ import annotations

import json
import os

import numpy as np

# round-robin cycle of op types: two short partition-pruned aggregates
# between every heavier type (so the median op is a short one and the tail
# is the heavy ones), the wide export once and the known-failing plain
# ClickHouse count() once per cycle
CYCLE = ("range_agg", "q1", "range_agg", "range_agg", "q3", "range_agg", "range_agg",
         "q5", "range_agg", "range_agg", "q6", "range_agg", "range_agg", "q18",
         "range_agg", "range_agg", "export", "range_agg", "count_ch")
VARIANTS = 6  # seeded parameter variants per op type

_REV = "round(l_extendedprice * 100) * round(100 - l_discount * 100)"

DDL = {
    "region": "r_regionkey Int32, r_name String",
    "nation": "n_nationkey Int32, n_name String, n_regionkey Int32",
    "customer": "c_custkey Int64, c_name String, c_nationkey Int32, "
                "c_acctbal Float64, c_mktsegment String",
    "supplier": "s_suppkey Int64, s_name String, s_nationkey Int32, s_acctbal Float64",
    "orders": "o_orderkey Int64, o_custkey Int64, o_orderstatus String, "
              "o_totalprice Float64, o_orderdate Date, o_orderpriority String",
    "lineitem": "l_orderkey Int64, l_partkey Int64, l_suppkey Int64, "
                "l_linenumber Int32, l_quantity Float64, l_extendedprice Float64, "
                "l_discount Float64, l_tax Float64, l_returnflag String, "
                "l_linestatus String, l_shipdate Date",
}
PARTITION = {"lineitem": "toYYYYMM(l_shipdate)"}


def _month(rng) -> tuple[str, str]:
    y, m = int(rng.integers(1992, 1998)), int(rng.integers(1, 13))
    ny, nm = (y + 1, 1) if m == 12 else (y, m + 1)
    return f"{y}-{m:02d}-01", f"{ny}-{nm:02d}-01"


def _day(rng, lo: str, hi: str) -> str:
    d0, d1 = np.datetime64(lo), np.datetime64(hi)
    return str(d0 + int(rng.integers(0, (d1 - d0).astype(int))))


def _variant(kind: str, rng) -> tuple[str, str]:
    """(ClickHouse-dialect SQL for the door, DuckDB SQL for the oracle)."""
    if kind == "range_agg":
        d0, d1 = _month(rng)
        where = f"l_shipdate >= '{d0}' and l_shipdate < '{d1}'"
        ch = ("select toYYYYMM(l_shipdate) as ym, l_returnflag as rf, count(*) as n, "
              "sum(l_quantity) as qty, sum(round(l_extendedprice * 100)) as cents "
              f"from lineitem where {where} group by ym, rf")
        duck = ("select year(l_shipdate) * 100 + month(l_shipdate) as ym, "
                "l_returnflag as rf, count(*) as n, sum(l_quantity) as qty, "
                "sum(round(l_extendedprice * 100)) as cents from li "
                f"where {where} group by 1, 2")
        return ch, duck
    if kind == "q1":
        d = _day(rng, "1998-07-01", "1998-09-30")
        body = ("l_returnflag, l_linestatus, sum(l_quantity) as sum_qty, "
                "sum(round(l_extendedprice * 100)) as sum_base, "
                f"sum({_REV}) as sum_disc_price, "
                "sum(round(l_discount * 100)) as sum_disc, count(*) as count_order "
                f"from {{li}} where l_shipdate <= '{d}' "
                "group by l_returnflag, l_linestatus")
        return (f"select {body.format(li='lineitem')} order by l_returnflag, l_linestatus",
                f"select {body.format(li='li')}")
    if kind == "q3":
        seg = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"][
            int(rng.integers(0, 5))]
        d = _day(rng, "1995-03-01", "1995-03-31")
        body = (f"l_orderkey, sum({_REV}) as revenue, o_orderdate "
                "from customer, {o}, {li} where c_mktsegment = '" + seg + "' "
                "and c_custkey = o_custkey and l_orderkey = o_orderkey "
                f"and o_orderdate < '{d}' and l_shipdate > '{d}' "
                "group by l_orderkey, o_orderdate "
                "order by revenue desc, l_orderkey limit 10")
        return (f"select {body.format(o='orders', li='lineitem')}",
                f"select {body.format(o='o', li='li')}")
    if kind == "q5":
        r = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"][int(rng.integers(0, 5))]
        y = int(rng.integers(1993, 1998))
        body = (f"n_name, sum({_REV}) as revenue "
                "from customer, {o}, {li}, supplier, nation, region "
                "where c_custkey = o_custkey and l_orderkey = o_orderkey "
                "and l_suppkey = s_suppkey and c_nationkey = s_nationkey "
                "and s_nationkey = n_nationkey and n_regionkey = r_regionkey "
                f"and r_name = '{r}' and o_orderdate >= '{y}-01-01' "
                f"and o_orderdate < '{y + 1}-01-01' group by n_name")
        return (f"select {body.format(o='orders', li='lineitem')} order by revenue desc, n_name",
                f"select {body.format(o='o', li='li')}")
    if kind == "q6":
        y = int(rng.integers(1993, 1998))
        disc = int(rng.integers(2, 10))
        qty = int(rng.integers(24, 26))
        body = ("sum(round(l_extendedprice * 100) * round(l_discount * 100)) as revenue, "
                "count(*) as n from {li} "
                f"where l_shipdate >= '{y}-01-01' and l_shipdate < '{y + 1}-01-01' "
                f"and l_discount between {(disc - 1) / 100:.2f} and {(disc + 1) / 100:.2f} "
                f"and l_quantity < {qty}")
        return f"select {body.format(li='lineitem')}", f"select {body.format(li='li')}"
    if kind == "q18":
        t = int(rng.integers(25, 31)) * 10
        body = ("c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, "
                "sum(l_quantity) as qty from customer, {o}, {li} "
                "where o_orderkey in (select l_orderkey from {li} group by l_orderkey "
                f"having sum(l_quantity) > {t}) "
                "and c_custkey = o_custkey and o_orderkey = l_orderkey "
                "group by c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice "
                "order by o_totalprice desc, o_orderdate, o_orderkey limit 100")
        return (f"select {body.format(o='orders', li='lineitem')}",
                f"select {body.format(o='o', li='li')}")
    if kind == "export":
        # ~240 lineitem rows ship per day: 83 days is a ~20k-row result
        d0 = np.datetime64(_day(rng, "1992-06-01", "1998-06-01"))
        body = ("l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice, "
                f"l_shipdate from {{li}} where l_shipdate >= '{d0}' "
                f"and l_shipdate < '{d0 + 83}'")
        return f"select {body.format(li='lineitem')}", f"select {body.format(li='li')}"
    if kind == "count_ch":
        d0, d1 = _month(rng)
        where = f"l_shipdate >= '{d0}' and l_shipdate < '{d1}'"
        return (f"select count() as n, sum(l_quantity) as qty from lineitem where {where}",
                f"select count(*) as n, sum(l_quantity) as qty from li where {where}")
    raise ValueError(kind)


def variants(seed: int) -> dict[str, list[tuple[str, str]]]:
    rng = np.random.default_rng([seed, 4])
    return {k: [_variant(k, rng) for _ in range(VARIANTS)] for k in sorted(set(CYCLE))}


def op_at(seed: int, i: int) -> tuple[str, int]:
    """Op i of the seeded stream: (op type, variant index)."""
    kind = CYCLE[i % len(CYCLE)]
    v = int(np.random.default_rng([seed, 5, i]).integers(0, VARIANTS))
    return kind, v


def expected(seed: int, tpch_dir: str, cache_dir: str) -> dict[str, list[dict]]:
    """Expected result (row count + order-insensitive hash) of every variant,
    computed once per seed with DuckDB and cached next to the inputs."""
    path = os.path.join(cache_dir, "olap_expected.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    import duckdb
    from tensorbase_spark.oracle import value_hash

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "orders", "lineitem"):
        con.execute(f"create view {t} as select * from "
                    f"read_parquet('{os.path.join(tpch_dir, t + '.parquet')}')")
    # the engine stores these columns as Date
    con.execute("create view li as select * replace (cast(l_shipdate as date) as l_shipdate) "
                "from lineitem")
    con.execute("create view o as select * replace (cast(o_orderdate as date) as o_orderdate) "
                "from orders")
    out = {}
    for kind, vs in variants(seed).items():
        out[kind] = []
        for _ch, duck in vs:
            res = con.execute(duck)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            out[kind].append({"rows": len(rows), "hash": value_hash(rows, cols)})
    con.close()
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out
