"""olap_sql: seed-parameterised read-only statements through Engine.sql.

The tables are loaded into the engine's manifest warehouse once
(``orders`` in two commits, so ``FOR VERSION AS OF 1`` has a past to
read). Each timed operation is one ``Engine.sql`` call forced through
the noop sink. Every template runs once, collected, before timing;
those results and a seeded sample of the timed statements, run again
collected after timing, are compared with DuckDB on the same parquet
files.
"""

from __future__ import annotations

import os
import time

from common import log, noop, rounds
from compare import compare_rows

OLAP_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem")
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_WORDS = ["ring", "bolt", "case", "disk", "gear", "plate", "rod", "tube"]
CHECKED_TIMED = 6  # timed statements re-run collected for the check


def _day(rng, first: str, days: int) -> str:
    import datetime as dt

    d = dt.date.fromisoformat(first) + dt.timedelta(days=int(rng.integers(0, days)))
    return f"{d.isoformat()} 00:00:00"


def _q1(rng):
    d = _day(rng, "1998-01-01", 1200)
    return f"""
SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty, count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '{d}'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""


def _q3(rng):
    seg = _SEGMENTS[int(rng.integers(0, 5))]
    d = _day(rng, "1996-01-01", 1500)
    return f"""
SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       o_orderdate, o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = '{seg}' AND o_orderdate < TIMESTAMP '{d}'
  AND l_shipdate > TIMESTAMP '{d}'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"""


def _q5(rng):
    r = _REGIONS[int(rng.integers(0, 5))]
    y = int(rng.integers(1995, 2001))
    return f"""
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = '{r}' AND o_orderdate >= TIMESTAMP '{y}-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '{y + 1}-01-01 00:00:00'
GROUP BY n_name ORDER BY revenue DESC, n_name"""


def _q6(rng):
    y = int(rng.integers(1995, 2001))
    d = int(rng.integers(2, 9))
    q = int(rng.integers(20, 30))
    return f"""
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue, count(*) AS n
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{y}-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '{y + 1}-01-01 00:00:00'
  AND l_discount BETWEEN 0.0{d - 1} AND 0.0{d + 1} AND l_quantity < {q}"""


def _q9(rng):
    w = _WORDS[int(rng.integers(0, len(_WORDS)))]
    return f"""
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       round(sum(l_extendedprice * (1 - l_discount)
                 - p_retailprice * 0.01 * l_quantity), 2) AS sum_profit
FROM part JOIN lineitem ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%{w}%'
GROUP BY n_name, year(o_orderdate) ORDER BY nation, o_year DESC"""


def _q18(rng):
    t = int(rng.integers(200, 260))
    return f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       sum(l_quantity) AS total_qty
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
                     HAVING sum(l_quantity) > {t})
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"""


def _window(rng):
    s = int(rng.integers(5, 45))
    return f"""
SELECT p_brand, p_partkey, p_retailprice, rnk FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         rank() OVER (PARTITION BY p_brand
                      ORDER BY p_retailprice DESC, p_partkey) AS rnk
  FROM part WHERE p_size > {s}) t
WHERE rnk <= 3"""


def _cube(rng):
    op = "CUBE" if rng.integers(0, 2) else "ROLLUP"
    d = _day(rng, "1995-01-01", 2000)
    return f"""
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders WHERE o_orderdate >= TIMESTAMP '{d}'
GROUP BY {op}(o_orderstatus, o_orderpriority)"""


def _const(rng):
    a, b = (int(x) for x in rng.integers(1, 1000, 2))
    w = _WORDS[int(rng.integers(0, len(_WORDS)))]
    return (f"SELECT {a} + {b} AS s, {a} * {b} AS p, upper('{w}') AS u, "
            f"length('{w}') AS l")


def _pg_ops(rng):
    k = int(rng.integers(1, 50))
    w = _WORDS[int(rng.integers(0, len(_WORDS)))]
    return f"""
SELECT count(*) AS n, round(sum(|/ p_retailprice), 2) AS s,
       max(@ (p_size - {k})) AS m
FROM part WHERE p_name ~~ '%{w}%' AND p_brand !~~ 'Brand#1%'"""


def _kb_tables(rng):
    skip = OLAP_TABLES[int(rng.integers(0, len(OLAP_TABLES)))]
    return (f"SELECT relname, version FROM kb_tables WHERE relname <> '{skip}'"
            " ORDER BY relname")


def _time_travel(rng):
    p = int(rng.integers(1000, 400000))
    return f"""
SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM orders FOR VERSION AS OF 1 WHERE o_totalprice > {p}
GROUP BY o_orderstatus"""


TEMPLATES = {
    "q1": _q1, "q3": _q3, "q5": _q5, "q6": _q6, "q9": _q9, "q18": _q18,
    "window_rank": _window, "cube_rollup": _cube, "const_select": _const,
    "pg_ops": _pg_ops, "kb_tables": _kb_tables, "time_travel": _time_travel,
}

# statement text → the DuckDB spelling of the same question
_DUCK_REWRITES = [
    ("orders FOR VERSION AS OF 1", "orders_v1"),
    ("|/ p_retailprice", "sqrt(p_retailprice)"),
    ("@ (p_size", "abs(p_size"),
    (" !~~ ", " NOT LIKE "),
    (" ~~ ", " LIKE "),
]


def duck_sql(sql: str) -> str:
    for a, b in _DUCK_REWRITES:
        sql = sql.replace(a, b)
    return sql


class OlapSql:
    name = "olap_sql"

    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = ctx.rng
        self.results: list[tuple[str, str, list, list]] = []  # name, sql, cols, rows
        self.timed: list[tuple[str, str]] = []
        self.builds: dict[str, list[float]] = {}

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from kuibadb_spark.engine import Engine

        ctx = self.ctx
        ctx.make_tables()
        spark = ctx.spark
        self.engine = Engine(spark, warehouse=ctx.warehouse)
        for t in OLAP_TABLES:
            df = spark.read.parquet(os.path.join(ctx.data_dir, f"{t}.parquet"))
            self.engine.create_table(t, df.schema)
            if t == "orders":
                # two commits: version 1 holds the older half of the keys
                self.split = int(ctx.tables["orders"].column("o_orderkey").to_numpy().max() // 2)
                cut = F.col("o_orderkey") < self.split
                self.engine.insert(t, df.filter(cut))
                self.engine.insert(t, df.filter(~cut))
            else:
                self.engine.insert(t, df)
        ctx.phase("load")
        # warm-up: every template once, collected for the output check
        for name in self.rng.permutation(sorted(TEMPLATES)):
            self._collect(name, TEMPLATES[name](self.rng))
        ctx.phase("warm-up")

    def _collect(self, name: str, sql: str) -> None:
        try:
            df = self.engine.sql(sql)
            rows = df.collect()
        except Exception as e:  # noqa: BLE001 — counted, run continues
            self.ctx.run.attempted += 1
            self.ctx.run.fail(f"collect {name}: {e!r}"[:500])
            return
        self.results.append((name, sql, df.columns, rows))

    def _one(self, name: str, sql: str) -> None:
        t0 = time.perf_counter()
        df = self.engine.sql(sql)
        self.builds.setdefault(name, []).append(time.perf_counter() - t0)
        noop(df)

    def measure(self, seconds: float) -> None:
        run = self.ctx.run
        for _ in rounds(seconds):
            for name in self.rng.permutation(sorted(TEMPLATES)):
                sql = TEMPLATES[name](self.rng)
                if run.attempt(name, lambda n=name, s=sql: self._one(n, s)):
                    self.timed.append((name, sql))

    def check(self) -> None:
        from kuibadb_spark.parity import duck_connection

        run = self.ctx.run
        k = min(CHECKED_TIMED, len(self.timed))
        for i in sorted(self.rng.choice(len(self.timed), k, replace=False)):
            self._collect(*self.timed[i])
        con = duck_connection(self.ctx.check_dir)
        con.execute("CREATE VIEW orders_v1 AS SELECT * FROM orders"
                    f" WHERE o_orderkey < {self.split}")
        try:
            for name, sql, cols, rows in self.results:
                run.attempted += 1
                if name == "kb_tables":
                    skip = sql.split("'")[1]
                    want = [(t, 2 if t == "orders" else 1)
                            for t in sorted(OLAP_TABLES) if t != skip]
                    got = [tuple(r) for r in rows]
                    ok, why = got == want, f"{got} != {want}"
                else:
                    res = con.execute(duck_sql(sql))
                    ok, why = compare_rows(cols, rows,
                                           [d[0] for d in res.description],
                                           res.fetchall())
                if not ok:
                    run.fail(f"olap check {name}: {why}"[:800])
        finally:
            con.close()
        log(f"olap_sql: checked {len(self.results)} statements against DuckDB")

    def layer_metrics(self) -> dict:
        import statistics

        return {"op_build_s": sum(statistics.median(v)
                                  for v in self.builds.values())}
