"""``analytics`` workload: one cycle = one pass of the reference surface
plus two star joins over the seeded star schema.

Each step of the pass is one op: one call into a public
``pyarrow_ops_spark`` function whose output ends in one
``(rows, checksum)`` action, checked against a DuckDB query over the same
parquet files. The cold pass runs on the small warm-up tables.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os

from pyspark.sql import functions as F

from checks import ToHash, checksum

BANDS = [("b0", 0, 500_000_00), ("b1", 500_000_00, 1_000_000_00),
         ("b2", 1_000_000_00, 2_000_000_00), ("b3", 2_000_000_00, 4_000_000_00),
         ("b4", 4_000_000_00, 10**12)]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
LI_COLS = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity",
           "l_extendedprice", "l_discount", "l_returnflag", "l_linestatus",
           "l_shipdate"]
HEAD_N = 5

SQL = {
    "filters": """
        SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag, l_linestatus
        FROM lineitem WHERE l_returnflag = 'R' AND l_quantity < 25
          AND l_linestatus IN ('F', 'O') AND l_discount >= 2""",
    "drop_duplicates": """
        SELECT * FROM lineitem QUALIFY row_number() OVER (
            PARTITION BY l_orderkey, l_partkey, l_quantity ORDER BY l_linenumber) = 1""",
    "groupby": """
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS l_quantity_sum, min(l_quantity) AS l_quantity_min,
               max(l_quantity) AS l_quantity_max, avg(l_quantity) AS l_quantity_mean,
               median(l_quantity) AS l_quantity_median,
               sum(l_extendedprice) AS l_extendedprice_sum,
               avg(l_discount) AS l_discount_mean
        FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "join": """
        SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, o.o_totalprice, o.o_orderstatus
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey""",
    "range_join": """
        SELECT b.band, count(*) AS n_orders, sum(o.o_totalprice) AS total
        FROM orders o JOIN bands b ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
        GROUP BY b.band""",
    "head": """
        SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
        WHERE o_orderpriority = '1-URGENT' LIMIT 5""",
    "str_to_table": """
        SELECT o_orderkey, CAST(json_extract(o_props, '$.k') AS BIGINT) AS k,
               json_extract_string(o_props, '$.ch') AS ch,
               CAST(json_extract(o_props, '$.gift') AS BOOLEAN) AS gift
        FROM orders""",
    "cleaner": """
        WITH s AS (SELECT avg(CAST(c_acctbal AS DOUBLE)) AS m FROM customer),
        cats AS (
            SELECT c_mktsegment AS cat,
                   row_number() OVER (ORDER BY min(file_row_number)) AS code
            FROM customer_rows WHERE c_mktsegment IS NOT NULL GROUP BY c_mktsegment)
        SELECT coalesce(CAST(c.c_acctbal AS DOUBLE), s.m) AS c_acctbal,
               coalesce(cats.code, 0) AS c_mktsegment,
               """ + ",\n               ".join(
        f"coalesce(c.c_mktsegment = '{x}', false) AS c_mktsegment_{x}" for x in SEGMENTS
    ) + """
        FROM customer c CROSS JOIN s LEFT JOIN cats ON c.c_mktsegment = cats.cat""",
    "q3": """
        SELECT l.l_orderkey AS o_orderkey, o.o_orderdate,
               sum(l.l_extendedprice * (100 - coalesce(l.l_discount, 0))) AS revenue
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderdate < DATE '1995-03-15'
          AND l.l_shipdate > DATE '1995-03-15'
        GROUP BY l.l_orderkey, o.o_orderdate
        ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    "q9": """
        SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
               sum(l.l_extendedprice * (100 - coalesce(l.l_discount, 0))
                   - p.p_retailprice * l.l_quantity) AS profit
        FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE p.p_type LIKE '%POLISHED%'
        GROUP BY n.n_name, year(o.o_orderdate)""",
}

COLS = {
    "groupby": ["l_returnflag", "l_linestatus", "l_quantity_sum", "l_quantity_min",
                "l_quantity_max", "l_quantity_mean", "l_quantity_median",
                "l_extendedprice_sum", "l_discount_mean"],
    "join": ["l_orderkey", "l_linenumber", "l_quantity", "o_totalprice", "o_orderstatus"],
    "str_to_table": ["o_orderkey", "k", "ch", "gift"],
    "cleaner": ["c_acctbal", "c_mktsegment"] + [f"c_mktsegment_{x}" for x in SEGMENTS],
    "q3": ["o_orderkey", "o_orderdate", "revenue"],
    "q9": ["nation", "o_year", "profit"],
}

# step -> tables it reads (for rows_per_s)
READS = {
    "filters": ["lineitem"], "drop_duplicates": ["lineitem"], "groupby": ["lineitem"],
    "join": ["lineitem", "orders"], "range_join": ["orders"], "head": ["orders"],
    "str_to_table": ["orders"], "cleaner": ["customer", "customer"],
    "q3": ["customer", "orders", "lineitem"],
    "q9": ["part", "lineitem", "supplier", "nation", "orders"],
}


def head_digest(rows: list[list[str]]) -> tuple[int, int]:
    """(rows, checksum) of a printed head table, order-sensitive."""
    h = hashlib.sha256(json.dumps(rows).encode()).hexdigest()
    return len(rows), int(h[:15], 16)


def parse_head(text: str) -> list[list[str]]:
    """Data rows of ``head``'s printed table: index column dropped."""
    lines = [ln for ln in text.splitlines() if ln.strip()]
    return [ln.split()[1:] for ln in lines[1:]]


class Analytics:
    """One cycle = one pass; each step of the pass is one op."""

    name = "analytics"

    def __init__(self, spark, inputs: str, run_dir: str, tracer, props: dict):
        self.spark, self.inputs, self.tracer = spark, inputs, tracer
        self.props = props

    def _dir(self, key: str) -> str:
        return os.path.join(self.inputs, "warmup") if key == "warmup" else self.inputs

    def _t(self, name: str):
        from pyarrow_ops_spark import load_table

        return load_table(self.spark, name, self.d)

    def cycle(self, i: int) -> list[list[tuple]]:
        """One group of independent ops; the cold pass (i == 0) runs on the
        warm-up tables."""
        key = "warmup" if i == 0 else "pass"
        self.d = self._dir(key)
        rows = self.props["warmup_rows" if key == "warmup" else "rows"]
        return [[(key, step, sum(rows[t] for t in READS[step]), fn)
                 for step, fn in self.steps()]]

    def steps(self):
        from pyarrow_ops_spark import (
            TableCleaner, drop_duplicates, filters, groupby, head, join,
            range_join, str_to_table,
        )

        call, spark = self.tracer.call, self.spark
        li, orders, cust = self._t("lineitem"), self._t("orders"), self._t("customer")

        def s_filters():
            with call("operators.filters"):
                f = filters(li, [("l_returnflag", "=", "R"), ("l_quantity", "<", 25),
                                 ("l_linestatus", "in", ["F", "O"]),
                                 ("l_discount", ">=", 2)])
                return {"filters": checksum(f.select(
                    "l_orderkey", "l_linenumber", "l_quantity", "l_discount",
                    "l_returnflag", "l_linestatus"))}

        def s_drop_duplicates():
            with call("operators.drop_duplicates"):
                dd = drop_duplicates(li, on=["l_orderkey", "l_partkey", "l_quantity"],
                                     keep="first", order_by=["l_linenumber"])
                return {"drop_duplicates": checksum(dd, LI_COLS)}

        def s_groupby():
            with call("operators.groupby"):
                g = groupby(li, ["l_returnflag", "l_linestatus"]).agg({
                    "l_quantity": ["sum", "min", "max", "mean", "median"],
                    "l_extendedprice": ["sum"], "l_discount": ["mean"]})
                return {"groupby": checksum(g, COLS["groupby"])}

        def s_join():
            with call("operators.join.mxn"):
                j = join(li.select("l_orderkey", "l_linenumber", "l_quantity"),
                         orders.select(F.col("o_orderkey").alias("l_orderkey"),
                                       "o_totalprice", "o_orderstatus"),
                         on=["l_orderkey"])
                return {"join": checksum(j, COLS["join"])}

        def s_range_join():
            with call("operators.range_join"):
                bands = spark.sql(
                    "SELECT band, lo, hi FROM VALUES "
                    + ", ".join(f"('{b}', {lo}L, {hi}L)" for b, lo, hi in BANDS)
                    + " AS t(band, lo, hi)")
                r = range_join(orders.select("o_totalprice"), bands, "o_totalprice",
                               "lo", "hi")
                r = r.groupBy("band").agg(F.count(F.lit(1)).alias("n_orders"),
                                          F.sum("o_totalprice").alias("total"))
                return {"range_join": checksum(r, ["band", "n_orders", "total"])}

        def s_head():
            with call("operators.head"):
                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    head(filters(orders, [("o_orderpriority", "=", "1-URGENT")])
                         .select("o_orderkey", "o_custkey", "o_orderstatus"), n=HEAD_N)
                return {"head": head_digest(parse_head(buf.getvalue()))}

        def s_str_to_table():
            with call("jsons.str_to_table"):
                js = str_to_table(orders.select("o_orderkey", "o_props"), "o_props",
                                  schema="first")
                return {"str_to_table": checksum(js, COLS["str_to_table"])}

        def s_cleaner():
            cleaner = TableCleaner()
            cleaner.register_numeric("c_acctbal")
            cleaner.register_label("c_mktsegment")
            cleaner.register_one_hot("c_mktsegment")
            with call("ml.cleaner.fit"):
                cleaner.fit(cust)
            with call("ml.cleaner.transform"):
                return {"cleaner": checksum(cleaner.clean_table(cust), COLS["cleaner"])}

        def s_q3():
            with call("operators.join.q3"):
                c = filters(cust, [("c_mktsegment", "=", "BUILDING")]).select(
                    F.col("c_custkey").alias("o_custkey"))
                o = filters(orders, [("o_orderdate", "<", "1995-03-15")]).select(
                    "o_orderkey", "o_custkey", "o_orderdate")
                lf = filters(li, [("l_shipdate", ">", "1995-03-15")]).select(
                    F.col("l_orderkey").alias("o_orderkey"),
                    (F.col("l_extendedprice")
                     * (100 - F.coalesce("l_discount", F.lit(0)))).alias("revenue"))
                q = join(join(c, o, on="o_custkey"), lf, on="o_orderkey")
                q = groupby(q.select("o_orderkey", "o_orderdate", "revenue"),
                            ["o_orderkey", "o_orderdate"]).sum()
                q = q.orderBy(F.col("revenue").desc(), "o_orderkey").limit(10)
                return {"q3": checksum(q, COLS["q3"])}

        def s_q9():
            with call("operators.join.q9"):
                p = filters(self._t("part"), [("p_type", "like", "%POLISHED%")]).select(
                    F.col("p_partkey").alias("l_partkey"), "p_retailprice")
                s = self._t("supplier").select(
                    F.col("s_suppkey").alias("l_suppkey"),
                    F.col("s_nationkey").alias("n_nationkey"))
                n = self._t("nation").select("n_nationkey",
                                             F.col("n_name").alias("nation"))
                o = orders.select(F.col("o_orderkey").alias("l_orderkey"),
                                  F.year("o_orderdate").alias("o_year"))
                q = join(join(join(join(li, p, on="l_partkey"), s, on="l_suppkey"),
                              n, on="n_nationkey"), o, on="l_orderkey")
                q = q.select("nation", "o_year", (
                    F.col("l_extendedprice") * (100 - F.coalesce("l_discount", F.lit(0)))
                    - F.col("p_retailprice") * F.col("l_quantity")).alias("profit"))
                return {"q9": checksum(groupby(q, ["nation", "o_year"]).sum(), COLS["q9"])}

        return [("filters", s_filters), ("drop_duplicates", s_drop_duplicates),
                ("groupby", s_groupby), ("join", s_join), ("range_join", s_range_join),
                ("head", s_head), ("str_to_table", s_str_to_table),
                ("cleaner", s_cleaner), ("q3", s_q3), ("q9", s_q9)]

    def expected(self, key: str) -> dict:
        import duckdb
        import pyarrow as pa

        con = duckdb.connect()
        try:
            d = self._dir(key)
            for t in ("region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                            f"'{os.path.join(d, t + '.parquet')}')")
            con.execute("CREATE VIEW customer_rows AS SELECT * FROM read_parquet("
                        f"'{os.path.join(d, 'customer.parquet')}', "
                        "file_row_number = true)")
            con.register("bands", pa.table({
                "band": [b for b, _, _ in BANDS], "lo": [lo for _, lo, _ in BANDS],
                "hi": [hi for _, _, hi in BANDS]}))
            results = {step: con.execute(sql).arrow() for step, sql in SQL.items()}
        finally:
            con.close()
        head_rows = [[str(v) for v in r.values()] for r in results.pop("head").to_pylist()]
        exp = {k: ToHash(t, COLS.get(k)) for k, t in results.items()}
        exp["head"] = head_digest(head_rows)
        return exp
