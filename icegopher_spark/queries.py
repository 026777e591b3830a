"""Query registry: every implemented operator surfaced as a
(spark_fn, oracle_sql) pair for the driver's DuckDB correctness gate.

Conventions (driver contract, __spark_entry__.py):
  * spark_fn(spark, sf_dir) -> DataFrame
  * oracle_sql is ANSI SQL DuckDB can run on the same parquet views
  * column names (and value rounding) match exactly on both sides —
    the compare sorts columns by name then hashes values.

Determinism rules used throughout:
  * double aggregates are ROUND()ed on both sides (floating-point sums
    are order-dependent; rounding to 2-4 decimals makes the hash stable)
  * every top-k has a total tie-break order
  * DuckDB integer SUM() returns HUGEINT → always CAST to BIGINT in
    oracles where Spark returns bigint.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import session_cache
from .operators import asof, dedup, similarity, text

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


# Tables whose operators are CPU-heavy narrow maps (shingling, hashing,
# vector math): for these, map-side work dominates and scan parallelism
# is worth one round-robin shuffle of the (small) input. Relational
# tables are left alone — their per-row work is cheap, so shuffling
# full-width rows costs more than 1-task partial aggregation saves.
_CPU_HEAVY_TABLES = {"documents", "embeddings"}


def _scale_out(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Ensure scan parallelism ≥ the session's shuffle partitions.

    The synthetic test tables are single-row-group parquet files, so a
    scan yields ~1 non-empty split and everything before the first
    exchange — where the heavy map work happens — runs as ONE task on a
    32-core executor. A cluster reading 100 TB has thousands of input
    splits, so the getNumPartitions guard makes this a no-op there.
    Filters still push down: Catalyst moves deterministic predicates
    through Repartition to the scan."""
    target = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return df.repartition(target) if df.rdd.getNumPartitions() < target else df


# Session-scoped catalog of resolved base-table scans (r14, guide §5
# "the driver should do almost no data work"): every load() previously
# re-ran spark.read.parquet — a ~100 ms py4j/footer/schema-resolution
# round trip per call, ~180 call sites, so a 6-table TPC-H query paid
# ~0.6 s of pure driver-side re-resolution per construction. A real
# engine resolves a table through its catalog once per session; this
# memo IS that catalog. It caches only the UNRESOLVED SCAN PLAN
# (metadata) — never rows: every action on the returned frame still
# scans the parquet inputs, so nothing here is result caching. Keyed
# on (session, shuffle-partition target, sf_dir, table): a new session
# gets fresh plans, and a conf change that would alter _scale_out's
# repartition target misses the memo. The base tables are the driver's
# immutable inputs (fixture tables live elsewhere and go through
# Table.from_location, never load()).
def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A memoized frame freezes the _scale_out decision taken on the miss for its key."""

    def build() -> DataFrame:
        if name == "events":
            # Schema-adaptive: the driver has shipped events.ts both as
            # TIMESTAMP(NANOS) and as timestamp[us]; events_io branches
            # on the file footer and normalizes ts to TimestampType.
            from .events_io import load_events

            return load_events(spark, f"{sf_dir}/events.parquet")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        return _scale_out(spark, df) if name in _CPU_HEAVY_TABLES else df

    target = spark.conf.get("spark.sql.shuffle.partitions", "32")
    return session_cache.memo(spark, ("load", target, sf_dir, name), build)


@dataclass
class Query:
    fn: Callable[[SparkSession, str], DataFrame]
    # str → DuckDB SQL; zero-arg callable → resolved lazily at
    # oracle_sql() time (lets a module reference another query module's
    # oracle without importing it at module scope — the r9 verdict's
    # import-order bug); None → driver does rows-only check.
    oracle: str | Callable[[], str] | None
    doc: str = ""

    def oracle_text(self) -> str | None:
        """Resolve the oracle to SQL text (thunks evaluated here)."""
        return self.oracle() if callable(self.oracle) else self.oracle


QUERIES: dict[str, Query] = {}


def register(name: str, oracle: str | Callable[[], str] | None, doc: str = ""):
    def deco(fn):
        QUERIES[name] = Query(fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


# Money columns in the synthetic tables are exact 2-decimal doubles, so
# casting to DECIMAL is lossless and makes SUMs exact integers —
# order-independent and engine-independent (float sums are neither).
# Spark-side helpers + the equivalent SQL fragments for the oracles:


# Narrow precisions keep multi-factor decimal products inside DuckDB's
# 38-digit multiply limit: prices fit DECIMAL(12,2), rates DECIMAL(4,2).


def dec(c: str | Column, s: int = 2, p: int = 12) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(f"decimal({p},{s})")


def rate(c: str) -> Column:
    return F.col(c).cast("decimal(4,2)")


def disc_price() -> Column:
    """l_extendedprice * (1 - l_discount), exact decimal."""
    return dec("l_extendedprice") * (F.lit(1) - rate("l_discount"))


def money(col: Column, ndigits: int = 2) -> Column:
    """Exact decimal aggregate → rounded → double output.

    Round the DECIMAL (exact, HALF_UP in both engines), not the double:
    rounding a double differs between engines when the binary value sits
    just below a .xx5 boundary (Spark rounds the shortest decimal
    repr, DuckDB the binary value)."""
    return F.round(col, ndigits).cast("double")


# SQL fragments (DuckDB) mirroring the above
SQL_DISC_PRICE = (
    "(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))))"
)


# ---------------------------------------------------------------------------
# Relational core (TPC-H-adapted to the driver's synthetic star schema)
# ---------------------------------------------------------------------------

register_q1_oracle = f"""
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_base_price,
       CAST(ROUND(SUM({SQL_DISC_PRICE}), 2) AS DOUBLE) AS sum_disc_price,
       CAST(ROUND(SUM({SQL_DISC_PRICE} * (1 + CAST(l_tax AS DECIMAL(4,2)))), 2) AS DOUBLE)
         AS sum_charge,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 4) AS avg_price,
       ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*), 4) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", register_q1_oracle, "TPC-H Q1: scan + 8-way agg")
def q1(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem")
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money(F.sum(dec("l_quantity"))).alias("sum_qty"),
            money(F.sum(dec("l_extendedprice"))).alias("sum_base_price"),
            money(F.sum(disc_price())).alias("sum_disc_price"),
            money(F.sum(disc_price() * (F.lit(1) + rate("l_tax")))).alias("sum_charge"),
            F.round(F.sum(dec("l_quantity")).cast("double") / n, 4).alias("avg_qty"),
            F.round(F.sum(dec("l_extendedprice")).cast("double") / n, 4).alias("avg_price"),
            F.round(F.sum(rate("l_discount")).cast("double") / n, 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


q3_oracle = """
WITH revenue AS (
  SELECT l.l_orderkey AS o_orderkey,
         SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS rev
  FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE c.c_mktsegment = 'BUILDING'
    AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
    AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
  GROUP BY 1
)
SELECT o_orderkey, CAST(ROUND(rev, 2) AS DOUBLE) AS revenue
FROM revenue
ORDER BY rev DESC, o_orderkey ASC
LIMIT 10
"""


@register("q3_shipping_priority", q3_oracle, "TPC-H Q3: 3-way join + top-10")
def q3(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey")
        .agg(F.sum(disc_price()).alias("rev"))
        .orderBy(F.col("rev").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", money(F.col("rev")).alias("revenue"))
    )


q4_oracle = """
SELECT o.o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
  )
GROUP BY o.o_orderpriority
"""


@register("q4_order_priority", q4_oracle, "TPC-H Q4: EXISTS → left-semi join")
def q4(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = load(spark, sf, "lineitem")
    semi = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


q5_oracle = """
SELECT n.n_name, CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n.n_name
"""


@register("q5_local_supplier_volume", q5_oracle, "TPC-H Q5: 6-way join")
def q5(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load(spark, sf, "lineitem")
    s = load(spark, sf, "supplier")
    n = load(spark, sf, "nation")
    r = load(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(money(F.sum(disc_price())).alias("revenue"))
    )


q6_oracle = """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("q6_forecast_revenue", q6_oracle, "TPC-H Q6: selective scan + agg")
def q6(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(
        money(F.sum(dec("l_extendedprice") * rate("l_discount"))).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


q7_oracle = """
SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
       EXTRACT(year FROM l.l_shipdate) AS l_year,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
WHERE cn.n_name <> sn.n_name
  AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1997-12-31 00:00:00'
GROUP BY 1, 2, 3
"""


@register("q7_volume_shipping", q7_oracle, "TPC-H Q7: nation-pair trade volume")
def q7(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem").filter(
        F.col("l_shipdate").between(
            F.lit("1996-01-01").cast("timestamp"), F.lit("1997-12-31").cast("timestamp")
        )
    )
    o = load(spark, sf, "orders")
    c = load(spark, sf, "customer")
    s = load(spark, sf, "supplier")
    n = load(spark, sf, "nation")
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(sn), s.s_nationkey == F.col("sn_key"))
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy("cust_nation", "supp_nation", F.year("l_shipdate").cast("bigint").alias("l_year"))
        .agg(money(F.sum(disc_price())).alias("revenue"))
    )


q9_oracle = """
SELECT n.n_name AS nation, EXTRACT(year FROM o.o_orderdate) AS o_year,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS profit
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN part p     ON l.l_partkey = p.p_partkey
WHERE p.p_name LIKE '%red%'
GROUP BY 1, 2
"""


@register("q9_profit_by_nation_year", q9_oracle, "TPC-H Q9-ish: profit rollup")
def q9(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem")
    o = load(spark, sf, "orders")
    s = load(spark, sf, "supplier")
    n = load(spark, sf, "nation")
    p = load(spark, sf, "part").filter(F.col("p_name").like("%red%"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(money(F.sum(disc_price())).alias("profit"))
    )


q10_oracle = """
SELECT c.c_custkey, c.c_name, n.n_name,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
GROUP BY 1, 2, 3
ORDER BY SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) DESC, c.c_custkey ASC
LIMIT 20
"""


@register("q10_returned_items", q10_oracle, "TPC-H Q10: returned-item revenue top-20")
def q10(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load(spark, sf, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(disc_price()).alias("rev"))
        .orderBy(F.col("rev").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select("c_custkey", "c_name", "n_name", money(F.col("rev")).alias("revenue"))
    )


q14_oracle = """
SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                         THEN CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))
                         ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
             / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE), 4) AS promo_revenue_pct
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
"""


@register("q14_promo_revenue", q14_oracle, "TPC-H Q14: conditional agg ratio")
def q14(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    p = load(spark, sf, "part")
    rev = disc_price()
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0).cast("decimal(12,2)"))).cast("double")
                / F.sum(rev).cast("double"),
                4,
            ).alias("promo_revenue_pct")
        )
    )


q18_oracle = """
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       ROUND(o.o_totalprice, 2) AS o_totalprice,
       CAST(ROUND(SUM(CAST(l.l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_qty
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY 1, 2, 3, 4, 5
HAVING SUM(CAST(l.l_quantity AS DECIMAL(12,2))) > 150
"""


@register("q18_large_volume_customer", q18_oracle, "TPC-H Q18: HAVING filter")
def q18(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem")
    # Aggregate BEFORE the joins (guide §2.3): the per-order quantity
    # sum needs only (l_orderkey, l_quantity) — grouping the joined
    # 16-column rows by five keys (two of them strings) shuffled the
    # whole fact + dimension payload, where o_orderkey alone determines
    # every other group key (unique in orders; customer attrs are
    # functionally dependent through o_custkey). The >150 filter then
    # prunes to a handful of orders before any dimension join runs.
    # Decimal sums are order-independent, so the regrouping is exact.
    sq = (
        li.groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(F.sum(dec("l_quantity")).alias("_sq"))
        .filter(F.col("_sq") > 150)
    )
    return (
        sq.join(o, "o_orderkey")
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            money(F.col("_sq")).alias("sum_qty"),
        )
    )


topk_oracle = """
WITH srev AS (
  SELECT s.s_suppkey, s.s_name, n.n_name,
         SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS rev
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n   ON s.s_nationkey = n.n_nationkey
  GROUP BY 1, 2, 3
), ranked AS (
  SELECT n_name, s_suppkey, s_name, rev,
         ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY rev DESC, s_suppkey ASC) AS rnk
  FROM srev
)
SELECT n_name, s_suppkey, s_name, CAST(ROUND(rev, 2) AS DOUBLE) AS revenue, rnk
FROM ranked WHERE rnk <= 3
"""


@register("topk_suppliers_per_nation", topk_oracle, "window top-k per group")
def topk_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem")
    s = load(spark, sf, "supplier")
    n = load(spark, sf, "nation")
    srev = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("s_suppkey", "s_name", "n_name")
        .agg(F.sum(disc_price()).alias("rev"))
    )
    w = Window.partitionBy("n_name").orderBy(F.col("rev").desc(), F.col("s_suppkey").asc())
    return (
        srev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("n_name", "s_suppkey", "s_name", money(F.col("rev")).alias("revenue"), "rnk")
    )


rollup_oracle = """
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@register("rollup_revenue", rollup_oracle, "ROLLUP grouping sets")
def rollup_rev(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            money(F.sum(disc_price())).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "revenue",
            "n_rows",
        )
    )


setops_oracle = """
SELECT c_custkey FROM (
  SELECT o_custkey AS c_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  INTERSECT
  SELECT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  EXCEPT
  SELECT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
) t
"""


@register("setops_customer_cohorts", setops_oracle, "INTERSECT/EXCEPT cohorts")
def setops(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders")

    def cohort(y: int) -> DataFrame:
        return o.filter(
            (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp"))
        ).select(F.col("o_custkey").alias("c_custkey"))

    return cohort(1996).intersect(cohort(1997)).subtract(cohort(1998))


distinct_oracle = """
SELECT l_returnflag,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_suppliers,
       CAST(SUM(l_linenumber) AS BIGINT) AS sum_linenumber
FROM lineitem
GROUP BY l_returnflag
"""


@register("distinct_stats", distinct_oracle, "multi countDistinct")
def distinct_stats(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.sum("l_linenumber").alias("sum_linenumber"),
    )


# ---------------------------------------------------------------------------
# Events: time windows, JSON, sessionization, as-of join
# ---------------------------------------------------------------------------

hourly_oracle = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(14,4))), 2) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


@register("events_hourly_rollup", hourly_oracle, "tumbling-window agg (batch form)")
def events_hourly(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            money(F.sum(F.col("value").cast("decimal(14,4)"))).alias("total_value"),
        )
    )


json_oracle = """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       COUNT(*) AS n
FROM events
GROUP BY event_type
"""


@register("events_json_extract", json_oracle, "JSON field extraction + agg")
def events_json(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
    )


# Both sides fold through exact int64 arithmetic (value has ≤4
# decimals, so round(value*10000) is integer-exact) with an identical
# division sequence — double summation order never enters, so the
# grouped-agg UDF and the SQL agree bit-for-bit after rounding.
wudaf_oracle = """
SELECT event_type,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT) * (user_id % 10 + 1)) AS DOUBLE)
             / 10000.0 / SUM(user_id % 10 + 1), 4) AS wmean_value
FROM events
GROUP BY event_type
"""


@register(
    "events_weighted_udaf",
    wudaf_oracle,
    "custom UDAF: pandas grouped-agg weighted mean (Arrow-batched)",
)
def events_weighted_udaf(spark: SparkSession, sf: str) -> DataFrame:
    """The pandas grouped-AGGREGATE UDF surface (SURVEY §2.9): a custom
    weighted mean that Spark's built-ins don't provide as one
    aggregate. Arrow moves each group's columns as batches; the fold is
    vectorized numpy inside. Note grouped-agg UDFs skip partial
    aggregation (full shuffle of the input columns) — reserve them for
    aggregates that genuinely can't decompose, as here demo'd."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _wmean(v: pd.Series, w: pd.Series) -> float:
        num = int(((v * 10000).round().astype("int64") * w.astype("int64")).sum())
        return float(num) / 10000.0 / int(w.sum())

    _wmean.__annotations__ = {"v": pd.Series, "w": pd.Series, "return": float}
    wmean = pandas_udf(_wmean, "double")

    ev = load(spark, sf, "events").select(
        "event_type", "value", (F.col("user_id") % 10 + 1).alias("w")
    )
    # Spark disallows mixing a grouped-agg pandas UDF with built-in
    # aggregates in one agg(); the count comes from a separate (cheap,
    # 3-group) aggregation joined back.
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    wm = ev.groupBy("event_type").agg(F.round(wmean("value", "w"), 4).alias("wmean_value"))
    return counts.join(wm, "event_type")


session_oracle = """
WITH gaps AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL '30 minutes' OR
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), sess AS (
  SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
  FROM gaps GROUP BY user_id
)
SELECT user_id, n_sessions, n_events FROM sess
"""


@register("events_sessionization", session_oracle, "lag-gap sessionization")
def sessionize(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800.0), 1).otherwise(0)
    return (
        ev.withColumn("new_session", new_sess)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


asof_oracle = """
WITH ord AS (  -- dedup: one order per (custkey, date) via max orderkey
  SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, e.ts, o.o_orderkey AS last_orderkey
FROM events e
ASOF LEFT JOIN ord o
  ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
"""


@register("asof_event_order", asof_oracle, "as-of join via union+window (no BNLJ)")
def asof_event_order(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events").select("event_id", "user_id", "ts")
    o = (
        load(spark, sf, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
        .withColumnRenamed("o_custkey", "user_id")
    )
    joined = asof.asof_join_backward(
        ev, o, on="user_id", left_ts="ts", right_ts="o_orderdate", payload_cols=["o_orderkey"]
    )
    return joined.select("event_id", "user_id", "ts", F.col("o_orderkey").alias("last_orderkey"))


# ---------------------------------------------------------------------------
# [X] extension operators: dedup / text analysis / similarity
# ---------------------------------------------------------------------------

dedup_exact_oracle = """
WITH fp AS (
  SELECT doc_id, lower(text) AS t FROM documents
)
SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
FROM fp GROUP BY t
"""


@register("dedup_exact", dedup_exact_oracle, "exact dedup via fingerprint groupBy")
def dedup_exact_q(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    return dedup.exact_dedup(docs)


jaccard_oracle = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
  FROM toks
), ex AS (
  SELECT doc_id, len(shingles) AS n_sh, UNNEST(shingles) AS sh FROM grams
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common,
         MIN(a.n_sh) AS n_a, MIN(b.n_sh) AS n_b
  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(n_common / CAST(n_a + n_b - n_common AS DOUBLE), 6) AS jaccard
FROM pairs
WHERE ROUND(n_common / CAST(n_a + n_b - n_common AS DOUBLE), 6) >= 0.5
"""


@register("dedup_ngram_jaccard", jaccard_oracle, "exact n-gram Jaccard pairs")
def dedup_jaccard_q(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    return dedup.ngram_jaccard_pairs(docs, threshold=0.5)


@register(
    "dedup_minhash_lsh",
    jaccard_oracle,
    "MinHash-LSH near-dup, differentially gated against exact Jaccard",
)
def dedup_minhash_q(spark: SparkSession, sf: str) -> DataFrame:
    """Differential gate: the verify stage computes EXACT Jaccard on LSH
    candidates, so the output equals the exact pair set iff LSH recall
    is 1.0 — the oracle is the same SQL as dedup_ngram_jaccard, and a
    dropped true pair (recall regression) fails the hash match. Recall
    1.0 confirmed empirically on the gate corpora (sf0.001/0.01: 28/28,
    25/25 pairs)."""
    docs = load(spark, sf, "documents")
    return dedup.minhash_dedup_pairs(docs, threshold=0.5)


def _neardup_groups_oracle(rounds: int = 4) -> str:
    """Connected components as UNROLLED min-label propagation: round k's
    label is the min over the k-hop neighborhood, so ``rounds`` ≥ the
    pair-graph diameter makes the unrolling exact (near-dup components
    are dense — measured diameter ≤ 2 on the gate corpora; 4 leaves
    slack, and a larger-diameter regeneration fails visibly rather than
    silently)."""
    prop = ""
    for k in range(1, rounds + 1):
        prop += f""", l{k} AS (
  SELECT s.id, LEAST(MIN(p1.rep), MIN(p2.rep)) AS rep
  FROM sym s JOIN l{k - 1} p1 ON p1.id = s.id JOIN l{k - 1} p2 ON p2.id = s.nb
  GROUP BY s.id
)"""
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
  FROM toks
), ex AS (
  SELECT doc_id, len(shingles) AS n_sh, UNNEST(shingles) AS sh FROM grams
), pr AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common,
         MIN(a.n_sh) AS n_a, MIN(b.n_sh) AS n_b
  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b FROM pr
  WHERE ROUND(n_common / CAST(n_a + n_b - n_common AS DOUBLE), 6) >= 0.5
), sym AS (
  SELECT id_a AS id, id_b AS nb FROM pairs
  UNION ALL
  SELECT id_b AS id, id_a AS nb FROM pairs
), l0 AS (
  SELECT DISTINCT id, id AS rep FROM sym
){prop}
SELECT id AS doc_id, rep AS group_rep FROM l{rounds}
"""


@register(
    "dedup_neardup_groups",
    _neardup_groups_oracle(),
    "iterative connected components over near-dup pairs (min-label propagation)",
)
def dedup_groups_q(spark: SparkSession, sf: str) -> DataFrame:
    """The registry's iterative-algorithm representative: the Spark side
    loops min-label propagation to convergence (driver-controlled,
    8-byte labels only); the oracle unrolls the same propagation in
    SQL."""
    docs = load(spark, sf, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    groups = dedup.neardup_groups(pairs)
    return groups.select(F.col("id").alias("doc_id"), F.col("rep").alias("group_rep"))


# Full DuckDB replica of the simhash pipeline. The production leaf hash
# (xxhash64) has no SQL twin, so the GATE runs the same pipeline with a
# portable md5-derived 32-bit hash (dedup.md5_hash32) — signature
# computation, banding, and popcount verification are all exercised and
# independently recomputed by the oracle (brute-force pairs, which the
# banding must equal by pigeonhole).
simhash_oracle = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_distinct(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''))) AS s
  FROM documents
), h AS (
  SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS h FROM toks
), bits AS (
  SELECT doc_id, i.i AS i,
         SUM(CASE WHEN (h // (1::BIGINT << i.i)) % 2 = 1 THEN 1 ELSE -1 END) AS c
  FROM h CROSS JOIN range(0, 32) i(i)
  GROUP BY doc_id, i.i
), sig AS (
  SELECT doc_id, CAST(SUM(CASE WHEN c > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS sh
  FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= 3
"""


@register(
    "dedup_simhash",
    simhash_oracle,
    "SimHash near-dup, full-pipeline differential vs SQL brute force",
)
def dedup_simhash_q(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    pairs = dedup.simhash_neardup_pairs(
        docs, max_hamming=3, nbits=32, hash_col=dedup.md5_hash32
    )
    return pairs.select("id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming"))


text_stats_oracle = """
SELECT doc_id,
       length(text) AS n_chars,
       CAST(len(regexp_extract_all(text, '[^ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens,
       CAST(len(regexp_extract_all(text, '[.,;:!?''"()\\[\\]{}-]')) AS BIGINT) AS n_punct,
       ROUND(length(text) / CAST(greatest(len(regexp_extract_all(text, '[^ \\t\\n\\x0B\\f\\r]+')), 1) AS DOUBLE), 4)
         AS chars_per_token
FROM documents
"""


@register("text_stats", text_stats_oracle, "per-doc token/char/punct stats")
def text_stats_q(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    return text.text_stats(docs)


def _langid_score_sql(words: list[str]) -> str:
    pattern = r"\b(" + "|".join(words) + r")\b"
    return f"len(regexp_extract_all(lower(text), '{pattern}'))"


_langid_scores = {lang: _langid_score_sql(ws) for lang, ws in sorted(text.LANG_STOPWORDS.items())}
_langid_best = "greatest(" + ", ".join(_langid_scores.values()) + ")"
_langid_case = "CASE WHEN " + _langid_best + " = 0 THEN 'und' " + " ".join(
    f"WHEN {score} = {_langid_best} THEN '{lang}'" for lang, score in _langid_scores.items()
) + " ELSE 'und' END"

langid_oracle = f"""
SELECT doc_id, lang, {_langid_case} AS pred_lang
FROM documents
"""


@register("text_lang_id", langid_oracle, "stopword-heuristic language ID")
def lang_id_q(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    return docs.select("doc_id", "lang", text.lang_id(F.col("text")).alias("pred_lang"))


_all_stopwords = sorted({w for ws in text.LANG_STOPWORDS.values() for w in ws})

quality_oracle = f"""
WITH m AS (
  SELECT doc_id,
         CAST(length(text) AS DOUBLE) AS n_chars,
         greatest(CAST(len(regexp_extract_all(text, '[^ \\t\\n\\x0B\\f\\r]+')) AS DOUBLE), 1.0) AS n_tok,
         CAST(len(regexp_extract_all(text, '[ \\t\\n\\x0B\\f\\r]')) AS DOUBLE) AS n_ws,
         CAST(len(regexp_extract_all(text, '[.,;:!?''"()\\[\\]{{}}-]')) AS DOUBLE) AS n_punct,
         CAST({_langid_score_sql(_all_stopwords)} AS DOUBLE) AS n_stop
  FROM documents
), s AS (
  SELECT doc_id,
         least(n_chars / 1000.0, 1.0) AS len_score,
         CASE WHEN (n_chars - n_ws) / n_tok BETWEEN 3 AND 8 THEN 1.0
              ELSE greatest(0.0, 1.0 - abs((n_chars - n_ws) / n_tok - 5.5) / 10.0)
         END AS tok_score,
         1.0 - least(n_punct / greatest(n_chars, 1.0) * 10, 1.0) AS punct_score,
         least(n_stop / n_tok * 20, 1.0) AS stop_score
  FROM m
)
SELECT doc_id,
       ROUND((len_score + tok_score + punct_score + stop_score) * 25.0, 4) AS quality
FROM s
"""


@register("text_quality_score", quality_oracle, "doc quality scoring")
def quality_q(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    return docs.select("doc_id", text.quality_score(F.col("text")).alias("quality"))


sweep_oracle = f"""
WITH scored AS ({quality_oracle}),
tok AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[^ \\t\\n\\x0B\\f\\r]+')) AS BIGINT)
           AS n_tok
  FROM documents
),
j AS (SELECT s.quality, t.n_tok FROM scored s JOIN tok t USING (doc_id)),
tot AS (SELECT COUNT(*) AS n_total, SUM(n_tok) AS w_total FROM j),
grid AS (SELECT 10.0 * r.range AS threshold FROM range(10) r)
SELECT g.threshold,
       CAST(COUNT(*) FILTER (WHERE j.quality >= g.threshold) AS BIGINT) AS n_rows,
       ROUND(COUNT(*) FILTER (WHERE j.quality >= g.threshold)
             / GREATEST(tot.n_total, 1), 6) AS row_share,
       CAST(COALESCE(SUM(n_tok) FILTER (WHERE j.quality >= g.threshold), 0)
            AS BIGINT) AS n_weight,
       ROUND(COALESCE(SUM(n_tok) FILTER (WHERE j.quality >= g.threshold), 0)
             / GREATEST(tot.w_total, 1.0), 6) AS weight_share
FROM j CROSS JOIN grid g CROSS JOIN tot
GROUP BY g.threshold, tot.n_total, tot.w_total
"""


@register(
    "text_filter_sweep",
    sweep_oracle,
    "quality-threshold survival curve: rows+tokens kept per cutoff, one pass",
)
def text_filter_sweep_q(spark: SparkSession, sf: str) -> DataFrame:
    """Measure before you filter: 10 candidate quality cutoffs swept in
    ONE aggregation pass (each threshold is a conditional sum — map-
    side combinable, codegen), so choosing a filter threshold over
    100 TB costs the same as one count(*)."""
    from .operators.curation import filter_sweep

    docs = load(spark, sf, "documents")
    scored = docs.select(
        text.quality_score(F.col("text")).alias("q"),
        text.token_count(F.col("text")).alias("n_tok"),
    )
    return filter_sweep(
        scored, "q", [10.0 * i for i in range(10)], weight_col="n_tok"
    )


vocab_oracle = """
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS token
  FROM documents
)
SELECT token, COUNT(*) AS n
FROM toks GROUP BY token
ORDER BY n DESC, token ASC
LIMIT 100
"""


@register("vocab_top_tokens", vocab_oracle, "corpus vocabulary: top-100 tokens by frequency")
def vocab_q(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary building: explode tokens, count, top-k with total
    tie-break. At 100 TB the shuffle carries (token, partial count)
    pairs — map-side partial aggregation collapses the token stream to
    ~|vocab| rows per partition before the exchange."""
    docs = load(spark, sf, "documents")
    return (
        docs.select(F.explode(text.tokens(F.lower("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(100)
    )


curation_oracle = f"""
WITH m AS (
  SELECT doc_id, text,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(len(regexp_extract_all(text, '[^ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS n_tokens,
         greatest(CAST(len(regexp_extract_all(text, '[^ \\t\\n\\x0B\\f\\r]+')) AS DOUBLE), 1.0) AS n_tok,
         CAST(len(regexp_extract_all(text, '[ \\t\\n\\x0B\\f\\r]')) AS DOUBLE) AS n_ws,
         CAST(len(regexp_extract_all(text, '[.,;:!?''"()\\[\\]{{}}-]')) AS DOUBLE) AS n_punct,
         CAST({_langid_score_sql(_all_stopwords)} AS DOUBLE) AS n_stop,
         {_langid_case} AS pred_lang
  FROM documents
), scored AS (
  SELECT doc_id, text, n_tokens, pred_lang,
         ROUND((least(n_chars / 1000.0, 1.0)
              + CASE WHEN (n_chars - n_ws) / n_tok BETWEEN 3 AND 8 THEN 1.0
                     ELSE greatest(0.0, 1.0 - abs((n_chars - n_ws) / n_tok - 5.5) / 10.0)
                END
              + 1.0 - least(n_punct / greatest(n_chars, 1.0) * 10, 1.0)
              + least(n_stop / n_tok * 20, 1.0)) * 25.0, 4) AS quality
  FROM m
), kept AS (
  SELECT * FROM scored WHERE quality >= 40 AND pred_lang <> 'und'
), canon AS (
  -- exact dedup: canonical = min doc_id per normalized text; the
  -- metrics are case-insensitive functions of the text, so MIN is exact
  SELECT MIN(doc_id) AS doc_id, MIN(pred_lang) AS pred_lang,
         MIN(quality) AS quality, MIN(n_tokens) AS n_tokens
  FROM kept GROUP BY lower(text)
)
SELECT pred_lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(ROUND(SUM(CAST(quality AS DECIMAL(14,4))) / COUNT(*), 4) AS DOUBLE) AS avg_quality
FROM canon
GROUP BY pred_lang
"""


@register(
    "corpus_curation",
    curation_oracle,
    "training-data pipeline: quality+lang filter -> exact dedup -> per-lang stats",
)
def corpus_curation_q(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end curation pipeline, the composition a 100 TB training-
    data run makes: score -> filter -> dedup -> corpus stats. One scan,
    one dedup shuffle on lower(text) hash, one stats shuffle on lang;
    every expression whole-stage codegen (no UDFs, no HOFs)."""
    docs = load(spark, sf, "documents")
    scored = docs.select(
        "doc_id",
        "text",
        text.token_count(F.col("text")).alias("n_tokens"),
        text.lang_id(F.col("text")).alias("pred_lang"),
        text.quality_score(F.col("text")).alias("quality"),
    )
    kept = scored.filter((F.col("quality") >= 40) & (F.col("pred_lang") != "und"))
    # dedup shuffle moves (8-byte fp, metrics) — never the document text
    canon = kept.groupBy(F.xxhash64(F.lower("text")).alias("fp")).agg(
        F.min("doc_id").alias("doc_id"),
        F.min("pred_lang").alias("pred_lang"),
        F.min("quality").alias("quality"),
        F.min("n_tokens").alias("n_tokens"),
    )
    return canon.groupBy("pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(
            F.sum(F.col("quality").cast("decimal(14,4)")) / F.count(F.lit(1)), 4
        )
        .cast("double")
        .alias("avg_quality"),
    )


# The fingerprint itself is xxhash64 (not SQL-reproducible), but its
# SEMANTICS are: equal normalized token streams ⇔ equal fingerprints
# (collisions aside). The gate therefore emits the group structure the
# fingerprint induces — canonical id + group size per doc — which DuckDB
# derives independently from the normalized text.
fingerprint_oracle = r"""
WITH fp AS (
  SELECT doc_id,
         array_to_string(
           list_filter(
             string_split_regex(lower(regexp_replace(text, '[.,;:!?''"()\[\]{}-]', ' ', 'g')), '\s+'),
             x -> x <> ''), ' ') AS norm
  FROM documents
)
SELECT doc_id,
       MIN(doc_id) OVER (PARTITION BY norm) AS canon_id,
       COUNT(*) OVER (PARTITION BY norm) AS n_same
FROM fp
"""


@register(
    "text_fingerprint",
    fingerprint_oracle,
    "64-bit doc fingerprints, gated on the group partition they induce",
)
def fingerprint_q(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    w = Window.partitionBy("fingerprint")
    return (
        docs.select("doc_id", text.fingerprint64(F.col("text")).alias("fingerprint"))
        .select(
            "doc_id",
            F.min("doc_id").over(w).alias("canon_id"),
            F.count(F.lit(1)).over(w).alias("n_same"),
        )
    )


window_frames_oracle = """
SELECT o_orderkey,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2))) OVER (
             PARTITION BY o_orderpriority
             ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
             RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
         AS rolling_7d,
       CAST(NTILE(4) OVER w AS INT) AS quartile,
       ROUND(PERCENT_RANK() OVER w, 6) AS pr,
       ROUND(CUME_DIST() OVER w, 6) AS cd
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
"""


@register(
    "window_frames",
    window_frames_oracle,
    "window frames: RANGE-interval rolling sum, ntile, percent_rank, cume_dist",
)
def window_frames_q(spark: SparkSession, sf: str) -> DataFrame:
    """RANGE frames need a numeric ORDER BY in Spark — epoch seconds on
    both sides keeps the 7-day rolling frame engine-identical. The rank
    window totals its order (price, key) so ntile/cume_dist are
    deterministic under ties."""
    o = load(spark, sf, "orders")
    epoch = F.col("o_orderdate").cast("timestamp").cast("long")
    w_range = (
        Window.partitionBy("o_orderpriority").orderBy(epoch).rangeBetween(-7 * 86400, 0)
    )
    w_rank = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        money(F.sum(dec("o_totalprice", p=14)).over(w_range)).alias("rolling_7d"),
        F.ntile(4).over(w_rank).alias("quartile"),
        F.round(F.percent_rank().over(w_rank), 6).alias("pr"),
        F.round(F.cume_dist().over(w_rank), 6).alias("cd"),
    )


pivot_oracle = """
SELECT l_linestatus,
       CAST(ROUND(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(12,2)) END), 2) AS DOUBLE) AS qty_A,
       CAST(ROUND(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(12,2)) END), 2) AS DOUBLE) AS qty_N,
       CAST(ROUND(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(12,2)) END), 2) AS DOUBLE) AS qty_R
FROM lineitem GROUP BY l_linestatus
"""


@register(
    "pivot_qty_by_flag",
    pivot_oracle,
    "pivot: return flags to columns (explicit value list, no extra scan)",
)
def pivot_q(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot with an EXPLICIT value list — without one Spark runs a
    distinct-values scan first (two scans at 100 TB) and the output
    schema becomes data-dependent."""
    li = load(spark, sf, "lineitem")
    out = (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(money(F.sum(dec("l_quantity"))))
    )
    return out.select(
        "l_linestatus",
        F.col("A").alias("qty_A"),
        F.col("N").alias("qty_N"),
        F.col("R").alias("qty_R"),
    )


posexplode_oracle = """
SELECT vec_id, CAST(i.i AS INT) AS pos, ROUND(CAST(embedding[i.i + 1] AS DOUBLE), 6) AS v
FROM embeddings CROSS JOIN range(0, 8) i(i)
"""


@register(
    "posexplode_embeddings",
    posexplode_oracle,
    "posexplode: array to (position, value) rows",
)
def posexplode_q(spark: SparkSession, sf: str) -> DataFrame:
    emb = load(spark, sf, "embeddings")
    return emb.select(
        "vec_id", F.posexplode(F.slice("embedding", 1, 8))
    ).select("vec_id", "pos", F.round(F.col("col").cast("double"), 6).alias("v"))


map_funcs_oracle = """
WITH m AS (
  SELECT p_partkey, p_brand,
         map(['brand', 'type'], [p_brand, p_type]) AS mp,
         map([p_brand], [CAST(p_size AS BIGINT)]) AS sz
  FROM part
)
SELECT p_partkey,
       mp['brand'][1] AS brand_val,
       CAST(cardinality(mp) AS INT) AS n_keys,
       array_to_string(map_keys(mp), ',') AS keys_csv,
       sz[p_brand][1] + 1 AS size_plus
FROM m
"""


@register(
    "map_funcs",
    map_funcs_oracle,
    "map functions: construct/extract/keys/cardinality",
)
def map_funcs_q(spark: SparkSession, sf: str) -> DataFrame:
    p = load(spark, sf, "part")
    mp = F.map_from_arrays(
        F.array(F.lit("brand"), F.lit("type")),
        F.array(F.col("p_brand"), F.col("p_type")),
    )
    sz = F.map_from_arrays(
        F.array(F.col("p_brand")), F.array(F.col("p_size").cast("bigint"))
    )
    return p.select(
        "p_partkey",
        F.element_at(mp, "brand").alias("brand_val"),
        F.size(mp).alias("n_keys"),
        F.concat_ws(",", F.map_keys(mp)).alias("keys_csv"),
        (F.element_at(sz, F.col("p_brand")) + 1).alias("size_plus"),
    )


# Higher-order array functions: Spark transform/filter/aggregate/
# zip_with vs DuckDB list_transform/list_filter/list_reduce. Scalar
# outputs (sums/counts), since the gate canonicalizer can't hash list
# cells; rounded because fold order is engine-defined.
hof_oracle = """
SELECT vec_id,
       ROUND(list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x),
                         (a, b) -> a + b), 6) AS sum_sq,
       CAST(len(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 0)) AS BIGINT) AS n_pos,
       ROUND(list_reduce(list_transform(CAST(embedding AS DOUBLE[]),
                                        x -> CASE WHEN x < 0 THEN -x ELSE x END),
                         (a, b) -> a + b), 6) AS l1_norm
FROM embeddings
"""


@register(
    "hof_array_funcs",
    hof_oracle,
    "higher-order functions: transform/filter/aggregate lambdas over arrays",
)
def hof_array_funcs_q(spark: SparkSession, sf: str) -> DataFrame:
    emb = load(spark, sf, "embeddings")
    v = F.col("embedding").cast("array<double>")
    sum_sq = F.aggregate(
        F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, b: a + b
    )
    l1 = F.aggregate(
        F.transform(v, lambda x: F.abs(x)), F.lit(0.0), lambda a, b: a + b
    )
    return emb.select(
        "vec_id",
        F.round(sum_sq, 6).alias("sum_sq"),
        F.size(F.filter(v, lambda x: x > 0)).cast("bigint").alias("n_pos"),
        F.round(l1, 6).alias("l1_norm"),
    )


stat_aggs_oracle = """
SELECT l_returnflag,
       ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       ROUND(covar_pop(l_quantity, l_extendedprice), 4) AS covar_qp,
       ROUND(stddev_samp(l_extendedprice), 4) AS sd_price,
       ROUND(var_pop(l_quantity), 6) AS var_qty,
       ROUND(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
       ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept
FROM lineitem GROUP BY l_returnflag
"""


@register(
    "stat_aggregates",
    stat_aggs_oracle,
    "statistical aggregates: corr/covar/stddev/variance/skewness/regr",
)
def stat_aggregates_q(spark: SparkSession, sf: str) -> DataFrame:
    """One-pass moment aggregates — all mergeable partials (map-side
    combine), only moment state shuffles. Rounded on both sides since
    higher moments are float-order sensitive. (skewness is excluded:
    Spark computes the population form, DuckDB the sample-corrected
    form — definitionally different, not a rounding issue.)"""
    li = load(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias("covar_qp"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        F.round(F.var_pop("l_quantity"), 6).alias("var_qty"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 6).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias("intercept"),
    )


approx_quantiles_oracle = """
SELECT l_returnflag,
       quantile_disc(l_extendedprice, 0.5) AS p50,
       quantile_disc(l_extendedprice, 0.9) AS p90,
       quantile_disc(l_extendedprice, 0.99) AS p99
FROM lineitem GROUP BY l_returnflag
"""


@register(
    "approx_quantiles_sketch",
    approx_quantiles_oracle,
    "percentile_approx quantile sketch, exact at gate accuracy",
)
def approx_quantiles_q(spark: SparkSession, sf: str) -> DataFrame:
    """The streaming-mergeable quantile sketch (Greenwald-Khanna via
    percentile_approx): with accuracy >= group row count the sketch
    degenerates to the exact discrete quantile, so DuckDB's
    quantile_disc is a hash-exact oracle (verified at sf0.01 and 0.1).
    At lower accuracy the same plan is the 100 TB path — partial
    sketches merge map-side, only sketch state shuffles."""
    li = load(spark, sf, "lineitem")
    q = F.percentile_approx("l_extendedprice", [0.5, 0.9, 0.99], 1_000_000)
    return li.groupBy("l_returnflag").agg(
        q[0].alias("p50"), q[1].alias("p90"), q[2].alias("p99")
    )


pack_oracle = r"""
WITH toks AS (
  SELECT doc_id, doc_id % 64 AS shard,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT doc_id, CAST(shard AS INT) AS shard,
       CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
             PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512.0) AS BIGINT)
         AS bin_id,
       n_tokens
FROM toks
"""


@register(
    "corpus_pack_sequences",
    pack_oracle,
    "sequence packing: sharded contiguous-fill into fixed-token bins",
)
def pack_sequences_q(spark: SparkSession, sf: str) -> DataFrame:
    """Training-example packing as a per-shard window cumsum — the only
    shuffle is the shard hash partitioning; no global sort (see
    operators/curation.py for the 100 TB rationale)."""
    from .operators import curation

    docs = load(spark, sf, "documents")
    return curation.pack_sequences(docs, max_tokens=512, n_shards=64)


_SAMPLE_RATES = {"en": 0.5, "de": 0.25, "fr": 0.1, "es": 0.0, "zh": 1.0}

_sample_case = "CASE lang " + " ".join(
    f"WHEN '{k}' THEN {r}" for k, r in sorted(_SAMPLE_RATES.items())
) + " ELSE 0.0 END"

weighted_sample_oracle = f"""
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM documents
WHERE ((doc_id % 2147483648) * 2654435761) % 4294967296 <
      CAST(FLOOR(({_sample_case}) * 4294967296) AS BIGINT)
GROUP BY lang
"""


@register(
    "corpus_weighted_sample",
    weighted_sample_oracle,
    "training-mix reweighting: deterministic per-language subsampling",
)
def weighted_sample_q(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language keep rates via exact-integer multiplicative
    hashing — reproducible across engines/partitionings, evaluated as a
    scan-level codegen filter (operators/curation.py)."""
    from .operators import curation

    docs = load(spark, sf, "documents")
    kept = curation.weighted_sample(docs, _SAMPLE_RATES, key_col="lang")
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("doc_id").alias("sum_ids")
    )


def _split_oracle() -> str:
    """Bounds computed with the SAME float accumulation as
    curation.assign_splits, inlined as integer literals so both engines
    compare against identical thresholds."""
    from .operators import curation as C

    fracs = [("train", 0.9), ("val", 0.05), ("test", 0.05)]
    bounds, cum = [], 0.0
    for name, f in fracs[:-1]:
        cum += f
        bounds.append((name, int(cum * C._HASH_MOD)))
    case = "CASE " + " ".join(
        f"WHEN bucket < {b} THEN '{name}'" for name, b in bounds
    ) + f" ELSE '{fracs[-1][0]}' END"
    return f"""
WITH b AS (
  SELECT doc_id, (doc_id * {C._HASH_MULT}) % {C._HASH_MOD} AS bucket FROM documents
), s AS (
  SELECT doc_id, {case} AS split FROM b
)
SELECT split, COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM s GROUP BY split
"""


@register(
    "corpus_split_assign",
    _split_oracle(),
    "deterministic train/val/test split by id hash bucket",
)
def corpus_split_q(spark: SparkSession, sf: str) -> DataFrame:
    """Split assignment is a pure function of doc_id (stable under
    corpus growth and re-partitioning); the gate aggregates per split."""
    from .operators import curation

    docs = load(spark, sf, "documents")
    return (
        curation.assign_splits(docs)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("doc_id").alias("sum_ids"))
    )


repetition_oracle = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
  FROM documents
), g AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS grams
  FROM toks
)
SELECT doc_id,
       CAST(len(grams) AS BIGINT) AS n_grams,
       CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct_grams,
       CASE WHEN len(grams) > 0
            THEN ROUND((len(grams) - len(list_distinct(grams)))
                       / CAST(len(grams) AS DOUBLE), 4)
            ELSE 0.0 END AS repetition_ratio
FROM g
"""


@register(
    "text_repetition",
    repetition_oracle,
    "per-doc n-gram repetition ratio (boilerplate/spam signal)",
)
def text_repetition_q(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    return text.repetition_stats(docs, n=3)


# The synthetic corpus carries no natural PII, so both sides INJECT a
# deterministic email (doc_id % 7 == 0) and phone (doc_id % 11 == 0)
# before redacting — the gate then verifies counts AND the md5 of the
# redacted text byte-for-byte.
pii_oracle = r"""
WITH injected AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 7 = 0
                 THEN ' contact' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
         || CASE WHEN doc_id % 11 = 0 THEN ' call 555-867-5309' ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
       -- phones counted on the EMAIL-REDACTED text (matches the chained
       -- replacement the digest certifies; see operators/text.redact_pii)
       CAST(len(regexp_extract_all(
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phones,
       md5(regexp_replace(
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g')) AS redacted_md5
FROM injected
"""


@register(
    "text_pii_redact",
    pii_oracle,
    "PII redaction: email/phone scrub with byte-exact redacted digest",
)
def text_pii_q(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    injected = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.lit(" contact"), F.col("doc_id").cast("string"), F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0, F.lit(" call 555-867-5309")).otherwise(F.lit("")),
        ),
    )
    return text.redact_pii(injected)


contamination_oracle = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
  FROM documents
), g AS (
  SELECT doc_id, unnest(list_distinct(
           list_transform(range(1, greatest(len(w) - 4, 0) + 1),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])
         )) AS g
  FROM toks
)
SELECT DISTINCT c.doc_id AS doc_id
FROM g c JOIN g b ON c.g = b.g
WHERE c.doc_id >= 20 AND b.doc_id < 20
"""


@register(
    "corpus_contamination",
    contamination_oracle,
    "benchmark-contamination screen: corpus docs sharing a 5-gram with the eval set",
)
def corpus_contamination_q(spark: SparkSession, sf: str) -> DataFrame:
    """docs 0-19 stand in for a benchmark/eval set; the operator flags
    corpus docs sharing any word 5-gram via an 8-byte hash semi-join."""
    docs = load(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") < 20)
    corpus = docs.filter(F.col("doc_id") >= 20)
    return dedup.contaminated_ids(corpus, bench, n=5)


asof_tol_oracle = """
WITH ord AS (
  SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, e.ts,
       CASE WHEN o.o_orderdate >= e.ts - INTERVAL 30 DAY
            THEN o.o_orderkey END AS last_orderkey
FROM events e
ASOF LEFT JOIN ord o
  ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
"""


@register(
    "asof_event_order_tolerant",
    asof_tol_oracle,
    "as-of join with 30-day tolerance (expired matches -> null)",
)
def asof_tolerant_q(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events").select("event_id", "user_id", "ts")
    o = (
        load(spark, sf, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    return asof.asof_join_backward(
        ev,
        o.select(F.col("o_custkey").alias("user_id"), "o_orderdate", "o_orderkey"),
        on="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        payload_cols=["o_orderkey"],
        tolerance_seconds=30 * 86400,
    ).select("event_id", "user_id", "ts", F.col("o_orderkey").alias("last_orderkey"))


salted_oracle = """
SELECT o.o_orderpriority,
       COUNT(*) AS n_lines,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(5,4)))), 2) AS DOUBLE) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""


@register(
    "salted_join_revenue",
    salted_oracle,
    "skew-salted fact join == plain join (revenue by priority)",
)
def salted_join_q(spark: SparkSession, sf: str) -> DataFrame:
    """Correctness gate for the explicit skew tool: the salted rewrite
    must be value-identical to the plain equi-join."""
    from .operators.skew import salted_join

    li = load(spark, sf, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = load(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), o, "o_orderkey", num_salts=8
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        money(
            F.sum(
                F.col("l_extendedprice").cast("decimal(14,2)")
                * (1 - F.col("l_discount").cast("decimal(5,4)"))
            )
        ).alias("revenue"),
    )


centroid_oracle = """
WITH flat AS (
  SELECT label,
         UNNEST(embedding) AS v,
         UNNEST(range(len(embedding))) AS i
  FROM embeddings
), cent AS (
  SELECT label, i, AVG(CAST(v AS DOUBLE)) AS c
  FROM flat GROUP BY label, i
), norms AS (
  SELECT label, CAST(COUNT(*) AS INT) AS dim,
         ROUND(sqrt(SUM(c * c)), 4) AS centroid_norm
  FROM cent GROUP BY label
)
SELECT n.label, e.n_vecs, n.dim, n.centroid_norm
FROM norms n
JOIN (SELECT label, COUNT(*) AS n_vecs FROM embeddings GROUP BY label) e
  ON n.label = e.label
"""


@register(
    "sim_label_centroids",
    centroid_oracle,
    "per-label embedding centroids via grouped-map pandas UDF",
)
def centroids_q(spark: SparkSession, sf: str) -> DataFrame:
    emb = load(spark, sf, "embeddings")
    cents = similarity.group_centroids(emb, "label", "embedding")
    sq = F.aggregate(
        F.transform("centroid", lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    return cents.select(
        "label",
        "n_vecs",
        F.size("centroid").alias("dim"),
        F.round(F.sqrt(sq), 4).alias("centroid_norm"),
    )


sim_topk_oracle = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10
), scored AS (
  SELECT q.query_id, e.vec_id,
         ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qvec AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(q.qvec AS DOUBLE[]), CAST(q.qvec AS DOUBLE[])))), 6)
           AS cosine_sim
  FROM embeddings e, q
  WHERE e.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, vec_id, cosine_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine_sim, rank FROM ranked WHERE rank <= 5
"""


@register("sim_topk_bruteforce", sim_topk_oracle, "exact cosine top-k ANN baseline")
def sim_topk_q(spark: SparkSession, sf: str) -> DataFrame:
    emb = load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return similarity.brute_force_topk(emb, q, k=5)


# The synthetic embeddings are near-uniform: no natural pair reaches
# cosine 0.9, so a bare gate would vacuously match 0 == 0 rows. Both
# sides therefore PLANT five near-dups — copies of vec_id < 5 scaled
# by 2.0 (an exact float op, so cosine is exactly 1 in both engines)
# under shifted ids — which the LSH pipeline must recover.
sim_neardup_oracle = """
WITH aug AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000, list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2.0)
  FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
           AS cosine_sim
  FROM aug a JOIN aug b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine_sim FROM scored WHERE cosine_sim >= 0.9
"""


@register(
    "sim_neardup_embeddings",
    sim_neardup_oracle,
    "embedding near-dup pairs via banded sign-LSH + exact verify (planted dups)",
)
def sim_neardup_q(spark: SparkSession, sf: str) -> DataFrame:
    """Differential gate: the oracle brute-forces all pairs in SQL
    (fine for DuckDB at gate scale); the Spark side runs the BANDED
    LSH + verify pipeline over the same planted-dup corpus — the
    O(n²) BNLJ baseline (neardup_pairs_exact) is not reachable from
    queries()."""
    emb = load(spark, sf, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + F.lit(1000000)).alias("vec_id"),
        F.transform(F.col("embedding").cast("array<double>"), lambda x: x * F.lit(2.0)).alias(
            "embedding"
        ),
    )
    aug = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")).unionByName(
        planted
    )
    return similarity.lsh_neardup_pairs(aug, threshold=0.9)


sim_semdedup_oracle = """
SELECT CAST(vec_id AS BIGINT) AS id, TRUE AS keep FROM embeddings
UNION ALL
SELECT CAST(vec_id + 1000000 AS BIGINT), FALSE FROM embeddings WHERE vec_id < 25
"""


@register(
    "sim_semdedup",
    sim_semdedup_oracle,
    "SemDeDup cluster-then-dedup over planted duplicate embeddings: "
    "exactly the planted copies drop, every original survives",
)
def sim_semdedup_q(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup (operators/similarity.py:semdedup) end-to-end: 25
    scaled copies are planted (vec_id+1000000, embedding x2 — cosine
    1.0 to their source and UNCHANGED cosine to everything else, so
    scale-invariance guarantees each copy lands in its source's
    cluster). The oracle is exact SQL, no pinned goldens: the corpus
    has no natural pairs at 0.9 (checked), so keep=False iff planted.
    A clustering bug that separates a copy from its source — or a
    pair-join that leaks across clusters — flips the hash."""
    emb = load(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = emb.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + F.lit(1000000)).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    aug = emb.unionByName(planted)
    return similarity.semdedup(aug, threshold=0.9).select(
        F.col("id").cast("bigint").alias("id"), "keep"
    )


# sim_lsh_topk is registered below, next to the other recall gates —
# its oracle judges retrieval quality against the exact top-k instead
# of replaying the pipeline's own hyperplanes in SQL (r3 verdict #2:
# a replica oracle verifies reproducibility, not retrieval).


# Iceberg-plane queries register themselves on import (module kept
# separate to keep this file query-only; import must come after
# `register` is defined).
from . import iceberg_queries  # noqa: E402,F401  (registration side effect)
from . import streaming_queries  # noqa: E402,F401  (registration side effect)
from . import multimodal_queries  # noqa: E402,F401  (registration side effect)
from . import analytics_queries  # noqa: E402,F401  (registration side effect)
from . import delta_queries  # noqa: E402,F401  (registration side effect)


def _topk_recall(exact: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """Per-query recall@k of an ANN result against the exact top-k
    (both computed in Spark; the exact side is itself oracle-checked
    via sim_topk_bruteforce).

    r13 batch 8 (guide §5/§2.4): the previous intersect-then-rejoin
    shape consumed the exact side through TWO subtrees (the intersect
    and the per-query key list) with no exchange reuse, so the
    brute-force O(corpus × queries) scoring pass executed twice per
    action. One left join + count-of-matches consumes each side ONCE
    and replaces the intersect's exchange pair with a single groupBy:
    both top-k frames are unique per (query_id, vec_id) by
    construction (row_number ranks), so count(matched) ==
    |exact ∩ approx| exactly, and every query appears in exact (k rows
    each), so the per-query coverage join is subsumed.

    HARD CONTRACT (r13 ADVICE): both inputs MUST be unique per
    (query_id, vec_id). The old intersect deduplicated; this left-join
    count does not — a caller passing duplicate candidate rows (e.g.
    an ANN variant that skips its distinct()) would silently inflate
    recall. Current callers all satisfy it: IVF assigns one cell per
    vector, LSH applies distinct(), brute-force ranks are unique."""
    marked = approx.select("query_id", "vec_id").withColumn("_hit", F.lit(1))
    return (
        exact.select("query_id", "vec_id")
        .join(marked, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(F.count("_hit").alias("hits"))
        .select(
            "query_id",
            F.col("hits").cast("bigint").alias("n_caught"),
            F.round(F.col("hits") / F.lit(k), 4).alias("recall"),
        )
    )


# Corpus content fingerprint: ROUND(SUM(first component) * 1000). The
# sf0.001 and sf0.01 embeddings tables are both 500 rows with different
# CONTENT, so recall pins must key on what's in the table, not its size.
_CORPUS_FP_SQL = (
    "SELECT CAST(ROUND(SUM(CAST(embedding AS DOUBLE[])[1]) * 1000, 0) AS BIGINT) AS f"
    " FROM embeddings"
)


def _pinned_recall_oracle(values_by_fp: dict[int, dict[int, int]], k: int) -> str:
    """Golden-value oracle for ANN recall: the quantizer/hyperplanes
    have no SQL twin, so the expected per-query hit counts
    (deterministic: seeded fits, fixed gate corpora) are pinned from
    verified runs — keyed by a corpus CONTENT fingerprint so the same
    oracle holds at every gate scale (recall differs per corpus; a
    single pin would false-fail local runs at the other scale). A
    recall regression — or a driver-side testdata regeneration
    changing the corpus — fails the hash match visibly instead of
    hiding behind a rows-only check."""
    fps = sorted(values_by_fp)
    qids = sorted(values_by_fp[fps[0]])

    def cell(q: int) -> str:
        expr = f"{values_by_fp[fps[-1]][q]}"
        for fp in fps[:-1]:
            expr = (
                f"CASE WHEN (SELECT f FROM fp) = {fp}"
                f" THEN {values_by_fp[fp][q]} ELSE {expr} END"
            )
        return expr

    rows = ", ".join(f"({q}, {cell(q)})" for q in qids)
    return (
        f"WITH fp AS ({_CORPUS_FP_SQL}) "
        "SELECT CAST(query_id AS BIGINT) AS query_id,"
        " CAST(n_caught AS BIGINT) AS n_caught,"
        f" CAST(ROUND(n_caught / {float(k)}, 4) AS DOUBLE) AS recall"
        f" FROM (VALUES {rows}) AS t(query_id, n_caught)"
    )


# Pinned from verified runs at BOTH gate corpora, keyed by content
# fingerprint (see _pinned_recall_oracle): -1464 = sf0.001's table,
# 1082 = sf0.01's (both 500 rows — size cannot discriminate them).
# Confirmed identical across session parallelism (cpus=7 and 32) —
# the quantizer fit is partition-independent by construction.
_IVF_RECALL = {
    -1464: {0: 5, 1: 4, 2: 5, 3: 5, 4: 5, 5: 4, 6: 4, 7: 5, 8: 4, 9: 4},
    1082: {0: 5, 1: 4, 2: 3, 3: 2, 4: 5, 5: 4, 6: 5, 7: 4, 8: 5, 9: 2},
}
_IVF_INDEX_RECALL = {n: dict(v) for n, v in _IVF_RECALL.items()}
# Sign-LSH (12 tables × 4 bits): hyperplanes are seeded constants, so
# recall on the fixed gate corpora is exactly reproducible. Mean
# recall@5 = 0.80 (sf0.01) on the near-uniform synthetic embeddings —
# ANN's worst case; clustered real embeddings do better at the same L·b.
_LSH_RECALL = {
    -1464: {0: 4, 1: 4, 2: 5, 3: 4, 4: 5, 5: 5, 6: 4, 7: 5, 8: 4, 9: 5},
    1082: {0: 3, 1: 3, 2: 5, 3: 3, 4: 4, 5: 5, 6: 3, 7: 5, 8: 5, 9: 4},
}


@register(
    "sim_lsh_topk",
    _pinned_recall_oracle(_LSH_RECALL, k=5),
    "sign-LSH bucketed ANN recall@5 vs exact top-k (pinned golden values)",
)
def sim_lsh_q(spark: SparkSession, sf: str) -> DataFrame:
    emb = load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    exact = similarity.brute_force_topk(emb, q, k=5)
    approx = similarity.lsh_topk(emb, q, k=5)
    return _topk_recall(exact, approx, k=5)


@register(
    "sim_ivf_topk",
    _pinned_recall_oracle(_IVF_RECALL, k=5),
    "IVF ANN recall@5 vs exact top-k (pinned golden values)",
)
def sim_ivf_q(spark: SparkSession, sf: str) -> DataFrame:
    emb = load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    exact = similarity.brute_force_topk(emb, q, k=5)
    approx = similarity.ivf_topk(emb, q, k=5)
    return _topk_recall(exact, approx, k=5)


def _cached_index_table(sf_dir: str, suffix: str, is_current, build):
    """Build-or-load a persisted /tmp index table, rebuilding when
    `is_current(table)` says its stamp doesn't match the running
    kernel — a stale index from an older revision must never validate
    as healthy (it silently changes candidate recall). Thin wrapper
    over iceberg_queries._cached_table so the poisoned-cache rules
    live in ONE place (kernel check + snapshot presence added here)."""
    from .iceberg_queries import _cached_table

    return _cached_table(
        sf_dir,
        suffix,
        lambda t: t.current_snapshot() is not None and is_current(t),
        build,
    )


@register(
    "sim_ivf_index_topk",
    _pinned_recall_oracle(_IVF_INDEX_RECALL, k=5),
    "persisted IVF index recall@5: partition-pruned probe vs exact top-k",
)
def sim_ivf_index_q(spark: SparkSession, sf: str) -> DataFrame:
    emb = load(spark, sf, "embeddings").select("vec_id", "embedding")
    t = _cached_index_table(
        sf,
        "emb_ivf_index",
        lambda t: (
            "ivf.centroids-path" in t.properties or "ivf.centroids" in t.properties
        )
        and t.properties.get("ivf.kernel-version") == similarity.IVF_KERNEL_VERSION,
        lambda loc: similarity.ivf_index_write(spark, emb, loc, n_lists=16),
    )
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    exact = similarity.brute_force_topk(emb, q, k=5)
    approx = similarity.ivf_index_search(spark, t, q, k=5, n_probe=6)
    return _topk_recall(exact, approx, k=5)


stratified_oracle = """
WITH r AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY ((doc_id % 2147483648) * 2654435761) % 4294967296, doc_id
         ) AS sample_rank
  FROM documents
)
SELECT doc_id, lang, CAST(sample_rank AS BIGINT) AS sample_rank
FROM r WHERE sample_rank <= 20
"""


@register(
    "corpus_stratified_sample",
    stratified_oracle,
    "exact per-language quota sampling by deterministic hash order",
)
def stratified_sample_q(spark: SparkSession, sf: str) -> DataFrame:
    """Eval-set construction: exactly 20 docs per language, chosen by
    Knuth-hash order so the pick is a pure function of doc_id (stable
    across engines, partitionings, and corpus growth). The window sorts
    only (bucket, id) pairs — payloads never shuffle
    (operators/curation.py:stratified_sample)."""
    from .operators import curation

    docs = load(spark, sf, "documents")
    return curation.stratified_sample(docs, quota=20, key_col="lang")


quantize_oracle = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
), s AS (
  SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale FROM v
), c AS (
  SELECT vec_id, scale,
         CASE WHEN scale = 0 THEN 0
              ELSE CAST(list_sum(list_transform(e, x -> round(x / scale))) AS BIGINT)
         END AS code_sum,
         CASE WHEN scale = 0 THEN 0.0
              ELSE list_max(list_transform(e, x -> abs(x - round(x / scale) * scale)))
         END AS max_err
  FROM s
)
SELECT vec_id, scale, code_sum, max_err,
       (max_err <= scale / 2 + 1e-12) AS within_bound
FROM c
"""


@register(
    "sim_quantize_int8",
    quantize_oracle,
    "symmetric int8 embedding quantization with pinned error bound",
)
def sim_quantize_int8_q(spark: SparkSession, sf: str) -> DataFrame:
    """Per-vector int8 codes via codegen HOF folds (no UDF, no
    shuffle); the gate compares scale, the exact integer code checksum,
    the max reconstruction error, and the error-bound guarantee —
    bit-identical doubles in both engines (operators/similarity.py)."""
    from .operators.similarity import quantize_int8

    emb = load(spark, sf, "embeddings")
    q = quantize_int8(emb)
    return q.select(
        "vec_id",
        "scale",
        F.aggregate("codes", F.lit(0).cast("bigint"), lambda a, x: a + x).alias("code_sum"),
        "max_err",
        "within_bound",
    )


substring_spans_oracle = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), g0 AS (
  SELECT doc_id, w, unnest(range(greatest(len(w) - 4, 0))) AS pos FROM toks
), g AS (
  SELECT doc_id, pos, array_to_string(w[pos + 1 : pos + 5], ' ') AS gram FROM g0
), hot AS (
  SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
), flagged AS (
  SELECT doc_id, pos FROM g SEMI JOIN hot USING (gram)
), per_doc AS (
  SELECT f.doc_id, COUNT(*) AS n_flagged, MIN(f.pos) AS first_pos
  FROM flagged f GROUP BY 1
)
SELECT p.doc_id, CAST(p.n_flagged AS BIGINT) AS n_flagged,
       CAST(p.first_pos AS BIGINT) AS first_pos,
       CAST(greatest(len(t.w) - 4, 0) AS BIGINT) AS n_grams
FROM per_doc p JOIN toks t ON p.doc_id = t.doc_id
"""


@register(
    "dedup_substring_spans",
    substring_spans_oracle,
    "cross-document repeated 5-gram spans (exact-substring dedup shape)",
)
def dedup_substring_spans_q(spark: SparkSession, sf: str) -> DataFrame:
    """Positions whose 5-gram recurs in another document, per doc:
    only (hash, doc, pos) longs shuffle; text never leaves its scan
    (operators/dedup.py:repeated_ngram_spans)."""
    docs = load(spark, sf, "documents")
    # r13: totals come from the SAME materialized gram explode as the
    # flagged positions (a doc with >=1 flagged gram has n_grams =
    # count of its explode rows) — the previous shape re-tokenized the
    # whole corpus a third time just to size each doc
    spans, totals = dedup.repeated_ngram_spans(docs, n=5, with_totals=True)
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_flagged"),
        F.min("pos").cast("bigint").alias("first_pos"),
    )
    return per_doc.join(totals, "doc_id").select(
        "doc_id", "n_flagged", "first_pos", "n_grams"
    )


substring_intervals_oracle = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), g0 AS (
  SELECT doc_id, w, unnest(range(greatest(len(w) - 4, 0))) AS pos FROM toks
), g AS (
  SELECT doc_id, pos, array_to_string(w[pos + 1 : pos + 5], ' ') AS gram FROM g0
), hot AS (
  SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
), flagged AS (
  SELECT doc_id, pos FROM g SEMI JOIN hot USING (gram)
), isl AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM flagged
)
SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + 4 AS BIGINT) AS span_end,
       CAST(COUNT(*) AS BIGINT) AS n_grams
FROM isl GROUP BY doc_id, island
"""


@register(
    "dedup_substring_intervals",
    substring_intervals_oracle,
    "gaps-and-islands: flagged positions merged into contiguous spans",
)
def dedup_substring_intervals_q(spark: SparkSession, sf: str) -> DataFrame:
    """The classic gaps-and-islands merge (pos - row_number constant
    within each contiguous run) applied to the cross-document repeated
    5-gram positions: per doc, each island becomes one redacted-span
    candidate [span_start, span_end] in token coordinates. The window
    input is the flagged position set, never the text."""
    docs = load(spark, sf, "documents")
    spans = dedup.repeated_ngram_spans(docs, n=5)
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = spans.withColumn("island", F.col("pos") - F.row_number().over(w))
    return isl.groupBy("doc_id", "island").agg(
        F.min("pos").cast("bigint").alias("span_start"),
        (F.max("pos") + 4).cast("bigint").alias("span_end"),
        F.count(F.lit(1)).alias("n_grams"),
    ).drop("island")


temperature_mix_oracle = """
WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
s AS (SELECT lang, n, CAST(FLOOR(SQRT(n)) AS BIGINT) AS w FROM c),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(w) AS BIGINT) AS ws FROM s),
q AS (SELECT lang, ((nn * 1 // 2) * w) // ws AS quota FROM s, t),
r AS (SELECT doc_id, lang,
        ROW_NUMBER() OVER (
          PARTITION BY lang
          ORDER BY ((doc_id % 2147483648) * 2654435761) % 4294967296, doc_id
        ) AS rnk
      FROM documents)
SELECT r.doc_id, r.lang FROM r JOIN q USING (lang) WHERE rnk <= quota
"""


@register(
    "corpus_temperature_mix",
    temperature_mix_oracle,
    "sqrt-temperature language-mix resampling, exact integer quotas",
)
def temperature_mix_q(spark: SparkSession, sf: str) -> DataFrame:
    """Training-mix reweighting: each language's share of the kept
    corpus is proportional to sqrt(n_lang) (flattens head languages,
    boosts the tail), total kept ~ half the corpus. Quotas are exact
    int64 arithmetic (floor(sqrt()) weights, div) and member selection
    is Knuth-hash order — a pure function of the ids, so the picked set
    is identical across engines and partitionings
    (operators/curation.py:temperature_mix)."""
    from .operators import curation

    docs = load(spark, sf, "documents")
    return curation.temperature_mix(docs, 1, 2)


minhash_incremental_oracle = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
  FROM toks
), ex AS (
  SELECT doc_id, len(shingles) AS n_sh, UNNEST(shingles) AS sh FROM grams
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common,
         MIN(a.n_sh) AS n_a, MIN(b.n_sh) AS n_b
  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(n_common / CAST(n_a + n_b - n_common AS DOUBLE), 6) AS jaccard
FROM pairs
WHERE ROUND(n_common / CAST(n_a + n_b - n_common AS DOUBLE), 6) >= 0.5
  AND (id_a % 3 = 0 OR id_b % 3 = 0)
"""


@register(
    "dedup_minhash_incremental",
    minhash_incremental_oracle,
    "incremental MinHash dedup: new batch probed against a persisted Iceberg LSH index",
)
def dedup_minhash_incremental_q(spark: SparkSession, sf: str) -> DataFrame:
    """Continuous-ingestion dedup (round-5): the old corpus's banded
    signatures persist in an Iceberg table (signatures computed once per
    doc EVER); a new batch is deduped by probing that index + itself,
    then exact-Jaccard verifying only candidate docs. Differential gate:
    the output must equal the batch exact-Jaccard pairs restricted to
    pairs with a new side — a recall loss from the split-index path
    (e.g. old sigs drifting from batch sigs) fails the hash match."""
    from .operators import dedup as _dedup

    docs = load(spark, sf, "documents")
    old = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 3 == 0)

    t = _cached_index_table(
        sf,
        "minhash_index",
        lambda t: t.properties.get("lsh.kernel-version") == _dedup.INDEX_KERNEL_VERSION,
        lambda loc: _dedup.minhash_index_write(spark, old, loc),
    )
    return _dedup.minhash_dedup_incremental(spark, t, new, docs, threshold=0.5)


length_trim_oracle = """
WITH r AS (
  SELECT doc_id, lang, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY n_chars, ((doc_id % 2147483648) * 2654435761) % 4294967296, doc_id
         ) AS rnk,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT doc_id, lang, n_chars FROM r
WHERE rnk > n * 5 // 100 AND rnk <= n * 95 // 100
"""


@register(
    "corpus_length_trim",
    length_trim_oracle,
    "per-language rank-percentile length trimming (integer-exact)",
)
def length_trim_q(spark: SparkSession, sf: str) -> DataFrame:
    """Outlier cleaning: drop each language's shortest 5% and longest 5%
    docs. Percentiles are rank-defined (no interpolation), so the kept
    set is engine-exact; the window sorts payload-free (length, id)
    pairs (operators/curation.py:length_trim)."""
    from .operators import curation

    docs = load(spark, sf, "documents")
    return curation.length_trim(docs)


def _bpe_oracle(n_merges: int, min_count: int = 2) -> str:
    """Unrolled BPE in SQL: stage k counts adjacent symbol pairs of the
    space-prefixed symbol strings, picks the (freq DESC, l, r) best,
    and stage k+1 applies it with replace(' l r' -> ' lr') — the same
    left-to-right greedy application the Spark operator uses, so the
    merge tables are engine-exact. ``min_count`` mirrors the operator's
    executor-side vocabulary floor (text.py:bpe_merges default)."""
    stages = _bpe_stage_ctes(n_merges)
    finals = "\nUNION ALL ".join(
        f"SELECT CAST({k + 1} AS BIGINT) AS rank, l AS left_sym, r AS right_sym, freq FROM b{k}"
        for k in range(n_merges)
    )
    return _bpe_learn_ctes(n_merges, min_count) + stages + "\n" + finals


def _bpe_stage_ctes(n_merges: int) -> str:
    """Per-merge CTEs (p{k} pair counts, b{k} best pair, s{k+1} applied
    state). Symbols are fully-delimited ' X ' units, double-space
    separated — see operators/text.py:bpe_merges for why boundary-safe
    matters."""
    stages = ""
    for k in range(n_merges):
        stages += f""",
p{k} AS (
  SELECT cnt, UNNEST(range(1, len(syms))) AS i, syms
  FROM (SELECT cnt, string_split(s[2:len(s)-1], '  ') AS syms FROM s{k})
),
b{k} AS (
  SELECT l, r, CAST(SUM(cnt) AS BIGINT) AS freq
  FROM (SELECT cnt, syms[i] AS l, syms[i+1] AS r FROM p{k})
  GROUP BY l, r ORDER BY freq DESC, l, r LIMIT 1
),
s{k + 1} AS (
  SELECT cnt, replace(s, ' ' || l || '  ' || r || ' ', ' ' || l || r || ' ') AS s
  FROM s{k}, b{k}
)"""
    return stages


def _bpe_learn_ctes(n_merges: int, min_count: int) -> str:
    """The WITH-prefix learning the vocabulary (w, s0): shared between
    the merge-table oracle and the encode oracle."""
    return (
        """
WITH w AS (
  SELECT w, COUNT(*) AS cnt FROM (
    SELECT UNNEST(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS w
    FROM documents) GROUP BY w HAVING COUNT(*) >= """
        + str(min_count)
        + """
),
s0 AS (SELECT cnt, regexp_replace(w, '(.)', ' \\1 ', 'g') AS s FROM w)"""
    )


@register(
    "vocab_bpe_merges",
    _bpe_oracle(6),
    "BPE vocabulary induction: first 6 merge rules, engine-exact",
)
def bpe_merges_q(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer training's core loop as a distributed operator: the
    corpus is touched once (word count); six merge rounds then run on
    the cached vocabulary with pure codegen split/replace expressions,
    one (l, r, freq) driver row per round
    (operators/text.py:bpe_merges). Oracle is the same computation
    unrolled in SQL."""
    from .operators import text as T

    docs = load(spark, sf, "documents")
    return T.bpe_merges(docs, n_merges=6)


gopher_filter_oracle = """
WITH c AS (
  SELECT doc_id,
    CAST(len(regexp_extract_all(text, '[^ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS n_words,
    CAST(length(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]', '', 'g')) AS BIGINT) AS n_word_chars,
    CAST(len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS BIGINT) AS n_symbols,
    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
    CAST(len(list_filter(string_split(text, chr(10)),
             l -> regexp_matches(ltrim(l), '^[•*-]'))) AS BIGINT) AS n_bullet_lines,
    CAST(len(list_filter(string_split(text, chr(10)),
             l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$'))) AS BIGINT) AS n_ellipsis_lines,
    CAST(len(list_filter(regexp_extract_all(text, '[^ \\t\\n\\x0B\\f\\r]+'),
             w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words,
    CAST((CASE WHEN regexp_matches(lower(text), '\\bthe\\b') THEN 1 ELSE 0 END)
       + (CASE WHEN regexp_matches(lower(text), '\\bbe\\b') THEN 1 ELSE 0 END)
       + (CASE WHEN regexp_matches(lower(text), '\\bto\\b') THEN 1 ELSE 0 END)
       + (CASE WHEN regexp_matches(lower(text), '\\bof\\b') THEN 1 ELSE 0 END)
       + (CASE WHEN regexp_matches(lower(text), '\\band\\b') THEN 1 ELSE 0 END)
       + (CASE WHEN regexp_matches(lower(text), '\\bthat\\b') THEN 1 ELSE 0 END)
       + (CASE WHEN regexp_matches(lower(text), '\\bhave\\b') THEN 1 ELSE 0 END)
       + (CASE WHEN regexp_matches(lower(text), '\\bwith\\b') THEN 1 ELSE 0 END)
      AS BIGINT) AS n_stop_present
  FROM documents
)
SELECT *,
       (n_words >= 50 AND n_words <= 100000
        AND n_word_chars >= 3 * n_words AND n_word_chars <= 10 * n_words
        AND 10 * n_symbols <= n_words
        AND 10 * n_bullet_lines <= n_lines
        AND 10 * n_ellipsis_lines <= 3 * n_lines
        AND 5 * n_alpha_words >= 4 * n_words
        AND n_stop_present >= 2) AS keep
FROM c
"""


@register(
    "text_gopher_filter",
    gopher_filter_oracle,
    "Gopher quality-rule web-corpus pre-filter, integer-exact verdicts",
)
def gopher_filter_q(spark: SparkSession, sf: str) -> DataFrame:
    """The Gopher paper's rule filter (word count, mean word length,
    symbol/bullet/ellipsis ratios, alpha-word fraction, required-word
    presence) as a single map-only codegen pass — every rule compares
    in integer space so the keep verdict can't float-flip between
    engines (operators/text.py:gopher_rules)."""
    from .operators import text as T

    docs = load(spark, sf, "documents")
    return T.gopher_rules(docs)


# The synthetic documents are newline-free word soup, so the gate
# first derives a deterministic PAGE from each doc (sentence breaks at
# ' table ', plus screen-triggering tails on fixed doc_id residues) —
# identical expressions on both engines — and runs the C4 rules on it.
c4_filter_oracle = r"""
WITH pages AS (
  SELECT doc_id,
    replace(text, ' table ', '.' || chr(10))
    || (CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'lorem ipsum dolor sit.' ELSE '' END)
    || (CASE WHEN doc_id % 23 = 0 THEN chr(10) || 'a curly { brace line here.' ELSE '' END)
    || (CASE WHEN doc_id % 29 = 0 THEN chr(10) || 'the gorefest word appears here.' ELSE '' END)
    || (CASE WHEN doc_id % 31 = 0 THEN chr(10) || 'inline javascript widget line appears here.' ELSE '' END)
    AS text
  FROM documents
), c AS (
  SELECT doc_id, text,
    list_filter(string_split(text, chr(10)),
      l -> regexp_matches(rtrim(l), '[.!?"”]$')
           AND len(list_filter(string_split_regex(l, '\s+'), w -> w <> '')) >= 3
           AND NOT regexp_matches(lower(l), '\bjavascript\b')) AS survives
  FROM pages
), k AS (
  SELECT doc_id, text,
    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
    CAST(len(survives) AS BIGINT) AS n_kept_lines,
    COALESCE(array_to_string(survives, chr(10)), '') AS kept_text
  FROM c
), m AS (
  SELECT doc_id, n_lines, n_kept_lines,
    CAST(len(regexp_extract_all(kept_text, '[.!?]')) AS BIGINT) AS n_sentences,
    CAST(length(kept_text) AS BIGINT) AS kept_chars,
    contains(lower(text), 'lorem ipsum') AS has_lorem_ipsum,
    contains(text, '{') AS has_curly_brace,
    (regexp_matches(lower(text), '\bxxxshock\b')
     OR regexp_matches(lower(text), '\bgorefest\b')
     OR regexp_matches(lower(text), '\bslurstub\b')) AS has_naughty_word
  FROM k
)
SELECT *,
       (n_sentences >= 5 AND NOT has_lorem_ipsum AND NOT has_curly_brace
        AND NOT has_naughty_word) AS keep
FROM m
"""


# Full winnowing replica in SQL: same md5-derived 32-bit gram hash,
# same (hash asc, pos desc) packed-key rightmost-min selection, same
# full-window rule — the fingerprint SETS must match, so the gate
# aggregates per doc with an order-free integer checksum.
winnow_oracle = r"""
WITH pos AS (
  SELECT doc_id, text,
         unnest(range(1, CAST(length(text) AS BIGINT) - 5 + 2)) AS p
  FROM documents
  WHERE length(text) >= 5
), g AS (
  SELECT doc_id, p,
         ('0x' || substr(md5(substr(text, CAST(p AS INT), 5)), 1, 8))::BIGINT AS h
  FROM pos
), win AS (
  SELECT doc_id,
         MIN(h * 1048576 + (1048576 - p)) OVER fr AS k,
         COUNT(*) OVER fr AS c
  FROM g
  WINDOW fr AS (PARTITION BY doc_id ORDER BY p
                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
), sel AS (
  SELECT DISTINCT doc_id,
         1048576 - (k % 1048576) AS pos,
         k // 1048576 AS fp_hash
  FROM win WHERE c = 4
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
       CAST(COUNT(DISTINCT fp_hash) AS BIGINT) AS n_distinct_hashes,
       CAST(MIN(fp_hash) AS BIGINT) AS min_fp,
       CAST(MAX(fp_hash) AS BIGINT) AS max_fp,
       CAST(SUM(fp_hash * pos) AS BIGINT) AS fp_checksum
FROM sel GROUP BY doc_id
"""


@register(
    "text_winnow_fingerprints",
    winnow_oracle,
    "winnowing (MOSS) document fingerprints: k-gram rightmost-min "
    "window selection, fingerprint set verified via order-free "
    "integer checksum",
)
def winnow_q(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing fingerprints (operators/text.py:winnow_fingerprints,
    k=5, w=4) with the full selection replayed independently in SQL;
    SUM(hash*pos) is an order-free exact checksum of the selected
    set, so a single mis-picked tie or off-by-one window flips the
    gate."""
    from .operators import text as T

    docs = load(spark, sf, "documents")
    fp = T.winnow_fingerprints(docs, k=5, w=4)
    return fp.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fingerprints"),
        F.count_distinct("fp_hash").cast("bigint").alias("n_distinct_hashes"),
        F.min("fp_hash").cast("bigint").alias("min_fp"),
        F.max("fp_hash").cast("bigint").alias("max_fp"),
        F.sum(F.col("fp_hash") * F.col("pos")).cast("bigint").alias("fp_checksum"),
    )


bigram_stats_oracle = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '') AS ws
  FROM documents
), bg AS (
  -- list_zip instead of a lateral range() (this DuckDB build rejects
  -- lateral column parameters to range — see driver-oracle gotchas)
  SELECT doc_id, u.pr[1] AS w1, u.pr[2] AS w2
  FROM toks, unnest(list_zip(ws, ws[2:])) u(pr)
  WHERE u.pr[2] IS NOT NULL
), cc AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2
)
SELECT bg.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(cc.c12) AS BIGINT) AS corpus_occurrences,
       CAST(SUM(CASE WHEN cc.c12 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons
FROM bg JOIN cc USING (w1, w2)
GROUP BY bg.doc_id
"""


# Paragraph dedup over derived pages with PLANTED boilerplate: every
# doc gets a shared footer paragraph (only the first doc corpus-wide
# keeps it) and every third doc a shared banner. Page derivation is
# the same deterministic expression on both engines.
para_dedup_oracle = r"""
WITH pages AS (
  SELECT doc_id,
    replace(text, ' table ', '.' || chr(10))
    || chr(10) || 'subscribe to our newsletter today.'
    || (CASE WHEN doc_id % 3 = 0
        THEN chr(10) || 'cookie banner accept all choices.' ELSE '' END)
    AS text
  FROM documents
), p AS (
  SELECT doc_id, u.s['i'] AS pos, u.s['p'] AS para
  FROM pages,
       unnest(list_transform(string_split(text, chr(10)),
                             (x, i) -> {'p': x, 'i': i})) u(s)
), r AS (
  SELECT doc_id, pos, para,
         ROW_NUMBER() OVER (PARTITION BY md5(trim(para))
                            ORDER BY doc_id, pos) AS rk
  FROM p
), k AS (
  SELECT doc_id, pos, para, (trim(para) = '' OR rk = 1) AS keep FROM r
)
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_paragraphs,
  CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
  COALESCE(
    array_to_string(
      list_transform(
        list_sort(list({'pos': pos, 'para': para}) FILTER (WHERE keep)),
        s -> s['para']),
      chr(10)),
    '') AS kept_text
FROM k GROUP BY doc_id
"""


@register(
    "text_paragraph_dedup",
    para_dedup_oracle,
    "Dolma-style paragraph-level exact dedup with in-order document "
    "reassembly: planted boilerplate paragraphs survive only at their "
    "first corpus-wide occurrence",
)
def paragraph_dedup_q(spark: SparkSession, sf: str) -> DataFrame:
    """Paragraph dedup (operators/text.py:paragraph_dedup): the gate
    plants a shared footer in every page and a banner in every third,
    and the oracle replays split/rank/filter/reassemble — kept_text is
    compared as a full string, so a mis-ordered reassembly or an
    off-by-one first-occurrence rank flips the hash."""
    from .operators import text as T

    docs = load(spark, sf, "documents")
    page = F.concat(
        F.replace(F.col("text"), F.lit(" table "), F.lit(".\n")),
        F.lit("\nsubscribe to our newsletter today."),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.lit("\ncookie banner accept all choices."),
        ).otherwise(F.lit("")),
    )
    return T.paragraph_dedup(docs.select("doc_id", page.alias("text")))


# band verdicts derived from the same integer stats the bigram oracle
# computes — wrap it as a subquery so the two gates can never drift
lm_filter_oracle = f"""
WITH s AS ({bigram_stats_oracle})
SELECT *,
       (corpus_occurrences >= 30 * n_bigrams
        AND corpus_occurrences <= 32 * n_bigrams) AS keep
FROM s
"""


@register(
    "text_lm_filter",
    lm_filter_oracle,
    "perplexity-band curation on the bigram model: drop both tails of "
    "the avg-commonality distribution, integer-exact band verdicts",
)
def lm_filter_q(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style LM-quality banding without the float trap
    (operators/text.py:lm_quality_filter): keep iff the average corpus
    frequency of the doc's bigrams is inside [30, 32] (band edges
    calibrated to the synthetic corpus's 25th/75th percentiles so the
    gate exercises BOTH tails) — both edges compared in integer space,
    oracle recomputed from the same stats CTE as text_bigram_stats."""
    from .operators import text as T

    docs = load(spark, sf, "documents")
    return T.lm_quality_filter(docs, lo_avg=30, hi_avg=32).drop("lm_score")


@register(
    "text_bigram_stats",
    bigram_stats_oracle,
    "corpus bigram LM rarity signals per doc, integer-exact "
    "(n_bigrams, corpus occurrences, singleton pairs); the float "
    "lm_score rides along ungated",
)
def bigram_stats_q(spark: SparkSession, sf: str) -> DataFrame:
    """KenLM-style per-document quality signal from a corpus bigram
    model (operators/text.py:bigram_stats): the gated columns are all
    integer counts so the verdict is engine-exact; avg -log2 P(w2|w1)
    is exposed by the operator but dropped here (float log-sums are
    reduction-order-dependent)."""
    from .operators import text as T

    docs = load(spark, sf, "documents")
    return T.bigram_stats(docs).drop("lm_score")


@register(
    "text_c4_filter",
    c4_filter_oracle,
    "C4 cleaning rules (terminal-punct lines, >=3 words/line, "
    "javascript-line drop, >=5 sentences, lorem-ipsum/brace/blocklist "
    "page drop), deterministic verdicts",
)
def c4_filter_q(spark: SparkSession, sf: str) -> DataFrame:
    """The C4 corpus-cleaning rule set (Raffel et al. 2020 §2.2) as a
    map-only codegen pass — line survival, sentence floor, and the
    page-level screens all recomputed independently by the oracle
    (operators/text.py:c4_rules; the 3-sentence-span dedup half of C4
    is dedup.substring spans)."""
    from .operators import text as T

    docs = load(spark, sf, "documents")
    page = F.concat(
        F.replace(F.col("text"), F.lit(" table "), F.lit(".\n")),
        F.when(F.col("doc_id") % 17 == 0, F.lit("\nlorem ipsum dolor sit.")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 23 == 0, F.lit("\na curly { brace line here.")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 29 == 0, F.lit("\nthe gorefest word appears here.")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 31 == 0, F.lit("\ninline javascript widget line appears here.")).otherwise(F.lit("")),
    )
    return T.c4_rules(docs.select("doc_id", page.alias("text")))


repetition_filter_oracle = """
WITH u AS (
  SELECT doc_id,
    list_filter(string_split(text, chr(10)), p -> p <> '') AS lines,
    list_filter(string_split(text, chr(10) || chr(10)), p -> p <> '') AS paras
  FROM documents
), c AS (
  SELECT doc_id,
    CAST(len(lines) AS BIGINT) AS n_lines,
    CAST(len(lines) - len(list_distinct(lines)) AS BIGINT) AS n_dup_lines,
    CAST(COALESCE(list_sum(list_transform(lines, p -> length(p))), 0) AS BIGINT) AS line_chars,
    CAST(COALESCE(list_sum(list_transform(lines, p -> length(p))), 0)
       - COALESCE(list_sum(list_transform(list_distinct(lines), p -> length(p))), 0)
      AS BIGINT) AS dup_line_chars,
    CAST(len(paras) AS BIGINT) AS n_paras,
    CAST(len(paras) - len(list_distinct(paras)) AS BIGINT) AS n_dup_paras,
    CAST(COALESCE(list_sum(list_transform(paras, p -> length(p))), 0) AS BIGINT) AS para_chars,
    CAST(COALESCE(list_sum(list_transform(paras, p -> length(p))), 0)
       - COALESCE(list_sum(list_transform(list_distinct(paras), p -> length(p))), 0)
      AS BIGINT) AS dup_para_chars
  FROM u
)
SELECT *,
       (10 * n_dup_lines <= 3 * n_lines
        AND 5 * dup_line_chars <= line_chars
        AND 10 * n_dup_paras <= 3 * n_paras
        AND 5 * dup_para_chars <= para_chars) AS keep
FROM c
"""


@register(
    "text_repetition_filter",
    repetition_filter_oracle,
    "MassiveText duplicate-line/paragraph repetition filter, integer-exact",
)
def repetition_filter_q(spark: SparkSession, sf: str) -> DataFrame:
    """The Gopher/MassiveText repetition rules (duplicate-line and
    duplicate-paragraph fractions by count and by chars) as one
    array-expression map pass; rules compare in integer space
    (operators/text.py:repetition_filter)."""
    from .operators import text as T

    docs = load(spark, sf, "documents")
    return T.repetition_filter(docs)


repetition_strict_oracle = """
WITH lu AS (
  SELECT doc_id, u.unit AS unit
  FROM documents, UNNEST(list_filter(string_split(text, chr(10)), p -> p <> '')) AS u(unit)
), lc AS (
  SELECT doc_id, unit, COUNT(*) AS cnt, length(unit) AS ln FROM lu GROUP BY doc_id, unit
), ls AS (
  SELECT doc_id,
    CAST(SUM(cnt) AS BIGINT) AS n_lines,
    CAST(COALESCE(SUM(cnt) FILTER (WHERE cnt > 1), 0) AS BIGINT) AS n_dup_lines,
    CAST(SUM(cnt * ln) AS BIGINT) AS line_chars,
    CAST(COALESCE(SUM(cnt * ln) FILTER (WHERE cnt > 1), 0) AS BIGINT) AS dup_line_chars
  FROM lc GROUP BY doc_id
), pu AS (
  SELECT doc_id, u.unit AS unit
  FROM documents, UNNEST(list_filter(string_split(text, chr(10) || chr(10)), p -> p <> '')) AS u(unit)
), pc AS (
  SELECT doc_id, unit, COUNT(*) AS cnt, length(unit) AS ln FROM pu GROUP BY doc_id, unit
), ps AS (
  SELECT doc_id,
    CAST(SUM(cnt) AS BIGINT) AS n_paras,
    CAST(COALESCE(SUM(cnt) FILTER (WHERE cnt > 1), 0) AS BIGINT) AS n_dup_paras,
    CAST(SUM(cnt * ln) AS BIGINT) AS para_chars,
    CAST(COALESCE(SUM(cnt * ln) FILTER (WHERE cnt > 1), 0) AS BIGINT) AS dup_para_chars
  FROM pc GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(ls.n_lines, 0) AS n_lines,
       COALESCE(ls.n_dup_lines, 0) AS n_dup_lines,
       COALESCE(ls.line_chars, 0) AS line_chars,
       COALESCE(ls.dup_line_chars, 0) AS dup_line_chars,
       COALESCE(ps.n_paras, 0) AS n_paras,
       COALESCE(ps.n_dup_paras, 0) AS n_dup_paras,
       COALESCE(ps.para_chars, 0) AS para_chars,
       COALESCE(ps.dup_para_chars, 0) AS dup_para_chars,
       (10 * COALESCE(ls.n_dup_lines, 0) <= 3 * COALESCE(ls.n_lines, 0)
        AND 5 * COALESCE(ls.dup_line_chars, 0) <= COALESCE(ls.line_chars, 0)
        AND 10 * COALESCE(ps.n_dup_paras, 0) <= 3 * COALESCE(ps.n_paras, 0)
        AND 5 * COALESCE(ps.dup_para_chars, 0) <= COALESCE(ps.para_chars, 0)) AS keep
FROM documents d
LEFT JOIN ls ON d.doc_id = ls.doc_id
LEFT JOIN ps ON d.doc_id = ps.doc_id
"""


@register(
    "text_repetition_strict",
    repetition_strict_oracle,
    "Paper-exact MassiveText repetition filter (all-occurrence dup counts)",
)
def repetition_strict_q(spark: SparkSession, sf: str) -> DataFrame:
    """Paper-exact variant of the repetition rules: duplicated-unit
    counts and chars include every occurrence (the Gopher table A1
    definition), computed as a sorted-array run-length fold — still one
    map pass, no shuffle (operators/text.py:repetition_filter_strict)."""
    from .operators import text as T

    docs = load(spark, sf, "documents")
    return T.repetition_filter_strict(docs)


top_ngram_oracle = """
WITH toks AS (
  SELECT doc_id,
         CAST(length(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]', '', 'g')) AS BIGINT) AS n_word_chars,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), grams AS (
  SELECT doc_id, n_word_chars, 2 AS n,
         UNNEST(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                i -> w[i] || ' ' || w[i+1])) AS gram
  FROM toks
  UNION ALL
  SELECT doc_id, n_word_chars, 3 AS n,
         UNNEST(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
  FROM toks
  UNION ALL
  SELECT doc_id, n_word_chars, 4 AS n,
         UNNEST(list_transform(range(1, greatest(len(w) - 3, 0) + 1),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS gram
  FROM toks
), counted AS (
  SELECT doc_id, n_word_chars, n, gram, COUNT(*) AS cnt
  FROM grams GROUP BY doc_id, n_word_chars, n, gram
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, n ORDER BY cnt DESC, gram) AS rn
  FROM counted
)
SELECT doc_id, CAST(n AS INT) AS n, gram AS top_gram,
       CAST(cnt AS BIGINT) AS top_cnt,
       CAST(cnt * length(gram) AS BIGINT) AS top_chars,
       n_word_chars,
       (100 * cnt * length(gram)
        <= (CASE n WHEN 2 THEN 20 WHEN 3 THEN 18 ELSE 16 END) * n_word_chars) AS keep
FROM ranked WHERE rn = 1
"""


@register(
    "text_top_ngram",
    top_ngram_oracle,
    "MassiveText top-n-gram char-share rule (n=2,3,4), integer-exact",
)
def top_ngram_q(spark: SparkSession, sf: str) -> DataFrame:
    """The last MassiveText rule family: the char share of each doc's
    single most frequent word n-gram for n in {2,3,4}, thresholded
    20/18/16% in integer space. Explode -> per-(doc, n) count ->
    per-doc top-1 window (parallelism is per-document — no global
    sort; operators/text.py:top_ngram_stats)."""
    from .operators import text as T

    docs = load(spark, sf, "documents")
    return T.top_ngram_stats(docs)


def _bpe_encode_oracle(n_merges: int = 6, min_count: int = 2) -> str:
    """Learn the merge table (shared CTEs), then apply the rules in
    rank order to every DISTINCT word of the corpus (including hapax
    words the learner's vocabulary floor excluded — encoding covers
    the whole corpus) and sum per-word token counts per document."""
    enc = ""
    for k in range(n_merges):
        enc += f""",
e{k + 1} AS (
  SELECT w, replace(s, ' ' || b{k}.l || '  ' || b{k}.r || ' ', ' ' || b{k}.l || b{k}.r || ' ') AS s
  FROM e{k}, b{k}
)"""
    return (
        _bpe_learn_ctes(n_merges, min_count)
        + _bpe_stage_ctes(n_merges)
        + """,
docw AS (
  SELECT doc_id, UNNEST(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS w
  FROM documents
),
e0 AS (SELECT DISTINCT w, regexp_replace(w, '(.)', ' \\1 ', 'g') AS s FROM docw)"""
        + enc
        + f"""
SELECT doc_id,
       CAST(SUM(len(string_split(s[2:len(s)-1], '  '))) AS BIGINT) AS n_bpe_tokens
FROM docw JOIN e{n_merges} USING (w)
GROUP BY doc_id
"""
    )


@register(
    "vocab_bpe_encode",
    _bpe_encode_oracle(6),
    "BPE tokenizer apply: per-doc token counts under the learned merges",
)
def bpe_encode_q(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer APPLY (the other half of training-data token
    accounting): learn the 6 fixture merges, then encode the corpus —
    distinct words encoded once through a codegen replace chain, fanned
    back per doc by an equi-join (operators/text.py:bpe_encode_counts;
    the 30k-rule scale path is bpe_encode_counts_arrow, differentially
    tested). r13: learner and encoder share ONE materialized
    (doc, word, multiplicity) frame, so the corpus is tokenized once
    instead of three times (guide §1.2); the learner's vocabulary is
    its exact integer rollup and the encoder's per-doc total is
    Σ m·ntok — both provably identical to the per-instance shape."""
    from .operators import text as T

    docs = load(spark, sf, "documents")
    dw = T.doc_word_counts(docs).localCheckpoint(eager=True)
    rules = [
        (r["left_sym"], r["right_sym"])
        for r in T.bpe_merges(docs, n_merges=6, word_counts=dw)
        .orderBy("rank")
        .collect()
    ]
    return T.bpe_encode_counts(docs, rules, word_counts=dw)


source_overlap_oracle = """
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), grams AS (
  SELECT doc_id, source,
         list_distinct(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
  FROM toks
), ex AS (
  SELECT doc_id, source, len(sh) AS n_sh, UNNEST(sh) AS s FROM grams
), p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         MIN(a.source) AS sa, MIN(b.source) AS sb,
         COUNT(*) AS n_common, MIN(a.n_sh) AS n_a, MIN(b.n_sh) AS n_b
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), j AS (
  SELECT least(sa, sb) AS src_a, greatest(sa, sb) AS src_b,
         ROUND(n_common / CAST(n_a + n_b - n_common AS DOUBLE), 6) AS jaccard
  FROM p
  WHERE ROUND(n_common / CAST(n_a + n_b - n_common AS DOUBLE), 6) >= 0.5
)
SELECT src_a, src_b, COUNT(*) AS n_pairs,
       MIN(jaccard) AS min_jaccard, MAX(jaccard) AS max_jaccard
FROM j GROUP BY src_a, src_b
"""


@register(
    "dedup_source_overlap",
    source_overlap_oracle,
    "cross-source near-dup contamination matrix (n-gram Jaccard >= 0.5)",
)
def source_overlap_q(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus audit before source mixing: near-dup pairs spanning each
    unordered source pair, with order-independent jaccard extremes
    (operators/dedup.py:source_overlap)."""
    from .operators import dedup as _dedup

    docs = load(spark, sf, "documents")
    return _dedup.source_overlap(docs, threshold=0.5)


chunk_documents_oracle = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
  FROM documents
), c AS (
  SELECT doc_id, w, len(w) AS n,
         greatest(1, CAST(ceil((len(w) - 32) / 224.0) AS BIGINT)) AS n_chunks
  FROM toks WHERE len(w) > 0
), ch AS (
  SELECT doc_id, w, n, UNNEST(range(0, n_chunks)) AS chunk_id FROM c
)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(least(chunk_id * 224 + 256, n) - chunk_id * 224 AS BIGINT) AS n_tokens,
       array_to_string(w[chunk_id * 224 + 1 : least(chunk_id * 224 + 256, n)], ' ')
         AS chunk_text
FROM ch
"""


@register(
    "corpus_chunk_documents",
    chunk_documents_oracle,
    "fixed-size token-window chunking with overlap (256/32)",
)
def chunk_documents_q(spark: SparkSession, sf: str) -> DataFrame:
    """Pre-tokenization chunking for long-context training: 256-token
    windows, 32-token overlap, tail window shorter, at least one chunk
    per non-empty doc (operators/curation.py:chunk_documents). One map
    pass; the posexplode IS the output."""
    from .operators import curation

    docs = load(spark, sf, "documents")
    return curation.chunk_documents(docs, chunk_tokens=256, overlap=32)


def _neardup_select_oracle(rounds: int = 4) -> str:
    """Components (the unrolled propagation from the groups oracle)
    plus the representative policy: longest doc (non-ws chars), ties by
    lowest id."""
    base = _neardup_groups_oracle(rounds)
    # reuse the full WITH-chain; wrap its SELECT as another CTE
    head, _, final = base.rpartition("SELECT id AS doc_id, rep AS group_rep FROM")
    ln = final.strip()
    return (
        head
        + f""", comp AS (
  SELECT id, rep FROM {ln}
), lens AS (
  SELECT doc_id AS id,
         CAST(length(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]', '', 'g')) AS BIGINT) AS _len
  FROM documents
), ranked AS (
  SELECT c.rep, c.id, ROW_NUMBER() OVER (
           PARTITION BY c.rep ORDER BY l._len DESC, c.id) AS rn
  FROM comp c JOIN lens l USING (id)
)
SELECT rep AS group_rep,
       CAST(MIN(CASE WHEN rn = 1 THEN id END) AS BIGINT) AS kept_id,
       COUNT(*) AS n_members
FROM ranked GROUP BY rep
"""
    )


@register(
    "dedup_neardup_select",
    _neardup_select_oracle(),
    "keep-one-representative selection over near-dup components",
)
def neardup_select_q(spark: SparkSession, sf: str) -> DataFrame:
    """Pairs -> components -> per-group representative (longest doc,
    ties by id) — the full dedup DECISION pipeline, integer-exact
    (operators/dedup.py:neardup_select)."""
    docs = load(spark, sf, "documents")
    return dedup.neardup_select(docs, threshold=0.5)


oov_oracle = """
WITH w AS (
  SELECT doc_id,
         UNNEST(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS w
  FROM documents
), vocab AS (
  SELECT w FROM (SELECT w, COUNT(*) AS c FROM w GROUP BY w)
  ORDER BY c DESC, w LIMIT 1000
)
SELECT doc_id, COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
FROM w LEFT JOIN vocab v USING (w)
GROUP BY doc_id
"""


@register(
    "vocab_oov_stats",
    oov_oracle,
    "per-doc OOV counts vs the corpus top-1000 vocabulary",
)
def oov_q(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary-coverage audit: per-doc token and OOV counts against
    a deterministic top-1000 corpus vocab (operators/text.py:oov_stats)."""
    from .operators import text as T

    docs = load(spark, sf, "documents")
    return T.oov_stats(docs, vocab_size=1000)


containment_oracle = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
  FROM toks
), ex AS (
  SELECT doc_id, len(shingles) AS n_sh, UNNEST(shingles) AS sh FROM grams
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(COUNT(*) AS BIGINT) AS n_common,
         CAST(MIN(a.n_sh) AS BIGINT) AS n_a,
         CAST(MIN(b.n_sh) AS BIGINT) AS n_b
  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_common, n_a, n_b,
       ROUND(n_common / CAST(LEAST(n_a, n_b) AS DOUBLE), 6) AS containment
FROM pairs
WHERE 100 * n_common >= 80 * LEAST(n_a, n_b)
"""


@register(
    "dedup_containment",
    containment_oracle,
    "asymmetric n-gram containment pairs (quote/inclusion detection; "
    "integer-exact threshold)",
)
def dedup_containment_q(spark: SparkSession, sf: str) -> DataFrame:
    """Containment C(A,B) = |A∩B|/min(|A|,|B|) over 3-gram shingle
    sets: catches a short doc embedded in a long one, which Jaccard's
    union denominator dilutes below any useful threshold (Broder's
    resemblance-vs-containment; operators/dedup.py:
    ngram_containment_pairs). Inverted-index equi-join, integer-space
    threshold (100*common >= 80*min)."""
    docs = load(spark, sf, "documents")
    return dedup.ngram_containment_pairs(docs, threshold=0.8)


char_diversity_oracle = """
WITH ch AS (
  SELECT doc_id, u.c AS c
  FROM documents, UNNEST(string_split(lower(text), '')) AS u(c)
  WHERE u.c <> ''
), cnt AS (
  SELECT doc_id, c, COUNT(*) AS k FROM ch GROUP BY 1, 2
), agg AS (
  SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_chars,
         CAST(COUNT(*) AS BIGINT) AS n_distinct,
         CAST(SUM(k * k) AS BIGINT) AS sum_sq
  FROM cnt GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(a.n_chars, 0) AS n_chars,
       COALESCE(a.n_distinct, 0) AS n_distinct,
       COALESCE(a.sum_sq, 0) AS sum_sq,
       CASE WHEN COALESCE(a.n_chars, 0) > 0
            THEN ROUND(1 - a.sum_sq / CAST(a.n_chars * a.n_chars AS DOUBLE), 6)
            ELSE 0.0 END AS simpson
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


@register(
    "text_char_diversity",
    char_diversity_oracle,
    "Gini-Simpson character-diversity quality signal: integer-exact "
    "concentration numerator, map-only run-length fold",
)
def char_diversity_q(spark: SparkSession, sf: str) -> DataFrame:
    """Character-diversity quality scoring: 1 - sum(c_i^2)/n^2 over
    case-folded char counts — spam/keyboard-mash detection with an
    exact-integer concentration numerator (Shannon entropy's float log
    sum is reduction-order-dependent and not engine-stable). One map
    pass per doc (operators/text.py:char_diversity)."""
    from .operators import text as T

    docs = load(spark, sf, "documents")
    return T.char_diversity(docs)


shuffle_shard_oracle = """
WITH d AS (
  SELECT doc_id,
         ((doc_id % 2147483648) * 2654435761) % 4294967296 AS key,
         CAST(len(regexp_extract_all(text, '[^ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS tok
  FROM documents
)
SELECT CAST(key % 16 AS INT) AS shard,
       COUNT(*) AS n_docs,
       CAST(SUM(tok) AS BIGINT) AS total_tokens,
       CAST(MIN(key) AS BIGINT) AS min_key,
       CAST(MAX(key) AS BIGINT) AS max_key,
       CAST(SUM(doc_id % 1000) AS BIGINT) AS id_chk
FROM d GROUP BY 1
"""


@register(
    "corpus_shuffle_shard",
    shuffle_shard_oracle,
    "deterministic corpus shuffle + shard manifest (seeded Knuth keys, "
    "engine-exact integer arithmetic)",
)
def shuffle_shard_q(spark: SparkSession, sf: str) -> DataFrame:
    """The training-data sharding step: seeded multiplicative-hash sort
    keys, shard = key mod N, and the shard-level manifest (doc/token
    totals + membership checksum) the physical partitionBy write is
    verified against (operators/curation.py:shuffle_shard)."""
    from .operators import curation as C

    docs = load(spark, sf, "documents")
    return C.shuffle_shard(docs, n_shards=16, seed=0)
