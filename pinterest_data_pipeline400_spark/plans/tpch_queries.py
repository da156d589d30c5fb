"""The eight canonical reference queries (SURVEY.md §2.10) mapped onto the
driver's TPC-H-ish tables per FIXTURES.md §B, so the DuckDB oracle can
check them at every scale factor.

Each query preserves the reference's *plan shape* (join → group →
window-top-1 / median / year-range-count) while swapping the pinterest
columns for their TPC-H analogs:

    customer ≈ user (c_acctbal ≈ follower_count), nation ≈ country,
    orders ≈ posting activity (o_orderdate ≈ timestamp/date_joined,
    o_orderpriority ≈ category).

The literal pinterest-schema versions of Q1-Q8 live in
``pinterest_queries.py`` and run against the committed dirty fixtures.

Determinism rules (SURVEY.md §7 hard parts 3-4), applied on BOTH sides:
  * money values (2-decimal doubles) are aggregated as integer *cents*
    (``round(x*100)::bigint``): integer sums are order-independent and
    interpolated medians of integers are exact in IEEE double, so both
    engines produce bit-identical results — no rounding knife-edges;
  * medians use exact interpolated percentile (Spark ``percentile`` ==
    DuckDB ``quantile_cont``), never ``percentile_approx``;
  * every row_number window carries a deterministic tiebreak column.

Scale notes: all joins here are dim⋈fact with tiny dims — nation (25
rows) and region (5) are always broadcast; customer⋈orders shuffles on
the key once and the subsequent groupBy reuses that partitioning where
keys align. The global argmax (q3b) uses orderBy+limit
(TakeOrderedAndProject), never a one-partition window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.analytics import global_top, median_expr, top_per_group
from ..sources.readers import read_parquet_table
from .registry import REGISTRY

# Balance buckets for q4/q5/q8 — the analog of the reference's age-group
# CASE (mount.py:313-318). Evaluated first-match-wins in both engines.
_BUCKET_SQL = (
    "CASE WHEN c_acctbal < 0 THEN 'negative' "
    "WHEN c_acctbal < 2500 THEN 'low' "
    "WHEN c_acctbal < 5000 THEN 'mid' "
    "WHEN c_acctbal < 7500 THEN 'high' "
    "ELSE 'top' END"
)


def _cents(col: str) -> F.Column:
    """Money double → exact integer cents (bit-identical across engines)."""
    return F.round(F.col(col) * 100).cast("long")


def _balance_bucket() -> F.Column:
    c = F.col("c_acctbal")
    return (
        F.when(c < 0, "negative")
        .when(c < 2500, "low")
        .when(c < 5000, "mid")
        .when(c < 7500, "high")
        .otherwise("top")
    )


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# q1 — most common order priority per nation
# (reference Q1: most popular category per country, mount.py:227-248)
# --------------------------------------------------------------------------
@REGISTRY.register(
    "q1_top_priority_per_nation",
    oracle="""
    WITH counted AS (
      SELECT n_name, o_orderpriority, count(*) AS n_orders
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      GROUP BY n_name, o_orderpriority
    ), ranked AS (
      SELECT n_name, o_orderpriority, n_orders,
             row_number() OVER (PARTITION BY n_name
                                ORDER BY n_orders DESC, o_orderpriority) AS rn
      FROM counted
    )
    SELECT n_name, o_orderpriority, n_orders FROM ranked WHERE rn = 1
    """,
    doc="join → groupBy-count → window top-1 per group (reference Q1 shape)",
)
def q1_top_priority_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    counted = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return top_per_group(
        counted,
        ["n_name"],
        [F.col("n_orders").desc(), F.col("o_orderpriority").asc()],
    ).select("n_name", "o_orderpriority", "n_orders")


# --------------------------------------------------------------------------
# q2 — line item counts per ship-year and return flag, 1996-1998
# (reference Q2: category post counts per year 2018-2022, mount.py:250-268)
# --------------------------------------------------------------------------
@REGISTRY.register(
    "q2_yearly_counts",
    oracle="""
    SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
           l_returnflag,
           count(*) AS n_items
    FROM lineitem
    WHERE year(l_shipdate) BETWEEN 1996 AND 1998
    GROUP BY 1, 2
    """,
    doc="year() → range filter → groupBy-count (reference Q2 shape)",
)
def q2_yearly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_shipdate", "l_returnflag")
    return (
        li.withColumn("ship_year", F.year("l_shipdate"))
        .filter(F.col("ship_year").between(1996, 1998))
        .groupBy("ship_year", "l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_items"))
    )


# --------------------------------------------------------------------------
# q3a — top customer per nation by total spend
# (reference Q3a: user with most followers per country, mount.py:270-289)
# --------------------------------------------------------------------------
_Q3A_ORACLE_BODY = """
    WITH spend AS (
      SELECT n_name, c_name,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS total_spend
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      GROUP BY n_name, c_name
    ), ranked AS (
      SELECT n_name, c_name, total_spend,
             row_number() OVER (PARTITION BY n_name
                                ORDER BY total_spend DESC, c_name) AS rn
      FROM spend
    )
    SELECT n_name, c_name, total_spend FROM ranked WHERE rn = 1
"""


def _q3a_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", "c_name")
        .agg((F.sum(_cents("o_totalprice")) / 100.0).alias("total_spend"))
    )


def _q3a_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    spend = _q3a_spend(spark, sf_dir)
    return top_per_group(
        spend, ["n_name"], [F.col("total_spend").desc(), F.col("c_name").asc()]
    ).select("n_name", "c_name", "total_spend")


@REGISTRY.register(
    "q3a_top_customer_per_nation",
    oracle=_Q3A_ORACLE_BODY,
    doc="join → groupBy-sum → window top-1 per group (reference Q3a shape)",
)
def q3a_top_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q3a_df(spark, sf_dir)


# --------------------------------------------------------------------------
# q3b — nation whose top customer spends the most overall
# (reference Q3b: global argmax over Q3a, mount.py:292-300). Uses
# orderBy+limit → TakeOrderedAndProject instead of the reference's
# single-partition window (SURVEY.md §4, W2).
# --------------------------------------------------------------------------
@REGISTRY.register(
    "q3b_top_nation_overall",
    oracle=f"""
    WITH q3a AS ({_Q3A_ORACLE_BODY})
    SELECT n_name, total_spend FROM q3a
    ORDER BY total_spend DESC, n_name LIMIT 1
    """,
    doc="global argmax via TakeOrderedAndProject (reference Q3b shape). "
    "Windowless: the globally top (nation, customer) spend is its own "
    "nation's top, so the per-nation row_number of the two-step form is "
    "skipped and ONE TakeOrderedAndProject runs over the aggregate; the "
    "oracle keeps the literal two-step shape and hash-agrees.",
)
def q3b_top_nation_overall(spark: SparkSession, sf_dir: str) -> DataFrame:
    spend = _q3a_spend(spark, sf_dir)
    return global_top(
        spend,
        [F.col("total_spend").desc(), F.col("n_name").asc(), F.col("c_name").asc()],
        k=1,
    ).select("n_name", "total_spend")


# --------------------------------------------------------------------------
# q4 — most common market segment per account-balance bucket
# (reference Q4: most popular category per age group, mount.py:302-331)
# --------------------------------------------------------------------------
@REGISTRY.register(
    "q4_top_segment_per_bucket",
    oracle=f"""
    WITH bucketed AS (
      SELECT {_BUCKET_SQL} AS balance_bucket, c_mktsegment
      FROM customer
    ), counted AS (
      SELECT balance_bucket, c_mktsegment, count(*) AS n_customers
      FROM bucketed GROUP BY 1, 2
    ), ranked AS (
      SELECT balance_bucket, c_mktsegment, n_customers,
             row_number() OVER (PARTITION BY balance_bucket
                                ORDER BY n_customers DESC, c_mktsegment) AS rn
      FROM counted
    )
    SELECT balance_bucket, c_mktsegment, n_customers FROM ranked WHERE rn = 1
    """,
    doc="CASE bucket → groupBy-count → window top-1 (reference Q4 shape)",
)
def q4_top_segment_per_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer").select("c_acctbal", "c_mktsegment")
    counted = (
        customer.withColumn("balance_bucket", _balance_bucket())
        .groupBy("balance_bucket", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    return top_per_group(
        counted,
        ["balance_bucket"],
        [F.col("n_customers").desc(), F.col("c_mktsegment").asc()],
    ).select("balance_bucket", "c_mktsegment", "n_customers")


# --------------------------------------------------------------------------
# q5 — median order price per balance bucket
# (reference Q5: median follower count per age group, mount.py:333-363;
# defined as percentile over the full group per SURVEY.md §2.10 quirk 2)
# --------------------------------------------------------------------------
@REGISTRY.register(
    "q5_median_price_per_bucket",
    oracle=f"""
    SELECT {_BUCKET_SQL} AS balance_bucket,
           quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.5) / 100.0
             AS median_order_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1
    """,
    doc="CASE bucket → exact interpolated median (reference Q5 shape)",
)
def q5_median_price_per_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .withColumn("balance_bucket", _balance_bucket())
        .groupBy("balance_bucket")
        .agg(
            (median_expr(_cents("o_totalprice")) / 100.0).alias(
                "median_order_price"
            )
        )
    )


# --------------------------------------------------------------------------
# q6 — customers acquired per first-order year, 1995-1998
# (reference Q6: users joined per year 2015-2020, mount.py:365-381)
# --------------------------------------------------------------------------
@REGISTRY.register(
    "q6_first_order_years",
    oracle="""
    WITH first_orders AS (
      SELECT o_custkey, CAST(year(min(o_orderdate)) AS INT) AS join_year
      FROM orders GROUP BY o_custkey
    )
    SELECT join_year, count(*) AS n_customers
    FROM first_orders
    WHERE join_year BETWEEN 1995 AND 1998
    GROUP BY join_year
    """,
    doc="min-date per key → year → range filter → count (reference Q6 shape)",
)
def q6_first_order_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    return (
        orders.groupBy("o_custkey")
        .agg(F.year(F.min("o_orderdate")).alias("join_year"))
        .filter(F.col("join_year").between(1995, 1998))
        .groupBy("join_year")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# --------------------------------------------------------------------------
# q7 — median account balance by first-order year
# (reference Q7: median follower count by joining year, mount.py:400-410)
# --------------------------------------------------------------------------
@REGISTRY.register(
    "q7_median_acctbal_by_year",
    oracle="""
    WITH first_orders AS (
      SELECT o_custkey, CAST(year(min(o_orderdate)) AS INT) AS join_year
      FROM orders GROUP BY o_custkey
    )
    SELECT join_year,
           quantile_cont(CAST(round(c_acctbal * 100) AS BIGINT), 0.5) / 100.0
             AS median_acctbal
    FROM first_orders JOIN customer ON o_custkey = c_custkey
    GROUP BY join_year
    """,
    doc="distinct users → join year → exact median → (reference Q7 shape)",
)
def q7_median_acctbal_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    first_orders = orders.groupBy("o_custkey").agg(
        F.year(F.min("o_orderdate")).alias("join_year")
    )
    return (
        first_orders.join(customer, first_orders.o_custkey == customer.c_custkey)
        .groupBy("join_year")
        .agg((median_expr(_cents("c_acctbal")) / 100.0).alias("median_acctbal"))
    )


# --------------------------------------------------------------------------
# q8 — median account balance by first-order year × market segment
# (reference Q8: median followers by joining year × age group, mount.py:435-445)
# --------------------------------------------------------------------------
@REGISTRY.register(
    "q8_median_acctbal_by_year_segment",
    oracle="""
    WITH first_orders AS (
      SELECT o_custkey, CAST(year(min(o_orderdate)) AS INT) AS join_year
      FROM orders GROUP BY o_custkey
    )
    SELECT join_year, c_mktsegment,
           quantile_cont(CAST(round(c_acctbal * 100) AS BIGINT), 0.5) / 100.0
             AS median_acctbal
    FROM first_orders JOIN customer ON o_custkey = c_custkey
    GROUP BY join_year, c_mktsegment
    """,
    doc="reference Q8 shape: Q7 + second grouping key",
)
def q8_median_acctbal_by_year_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal", "c_mktsegment")
    first_orders = orders.groupBy("o_custkey").agg(
        F.year(F.min("o_orderdate")).alias("join_year")
    )
    return (
        first_orders.join(customer, first_orders.o_custkey == customer.c_custkey)
        .groupBy("join_year", "c_mktsegment")
        .agg((median_expr(_cents("c_acctbal")) / 100.0).alias("median_acctbal"))
    )


# --------------------------------------------------------------------------
# bucketed co-located join — the shuffle-free recurring-join layout
# --------------------------------------------------------------------------
BUCKETS = 8


@REGISTRY.register(
    "bucketed_join_customer_orders",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment""",
    doc="Bucketed CO-LOCATED join, driver-checked end-to-end: customer "
    f"and orders persisted as external tables CLUSTERED BY the join "
    f"key INTO {BUCKETS} BUCKETS each (explicit LOCATION under /tmp, "
    "so the layout works whatever warehouse dir the caller's session "
    "has), then joined — matching bucket specs let Catalyst plan the "
    "SortMergeJoin with NO Exchange on either side (asserted by "
    "pytest); the single shuffle left in the plan is the segment "
    "aggregation. At 100 TB this layout deletes the dominant cost of "
    "every recurring fact-to-dim-key join; the MERGE hint only "
    "counters the fixture-scale broadcast choice — at real scale SMJ "
    "is the natural pick, hint-free.",
)
def bucketed_join_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import re

    from ..cache import generation_dir

    sf_name = os.path.basename(os.path.normpath(sf_dir))
    specs = {
        "customer": ("c_custkey INT, c_mktsegment STRING", "c_custkey",
                     "SELECT c_custkey, c_mktsegment FROM parquet.`{p}`"),
        "orders": ("o_custkey INT, o_cents BIGINT", "o_custkey",
                   "SELECT o_custkey, CAST(round(o_totalprice * 100) AS BIGINT)"
                   " AS o_cents FROM parquet.`{p}`"),
    }
    names = {}
    for tbl, (ddl_cols, key, select) in specs.items():
        # The bucketed copy is a cache generation: a bucketed layout
        # exists to be written once and joined against many times, so
        # only the metastore registration is per call. The files are
        # written through a throwaway external table at the staging
        # path (DROP TABLE leaves an external table's files), then the
        # named table is registered over the published location.
        src = os.path.join(sf_dir, f"{tbl}.parquet")
        table = (
            f"({ddl_cols}) USING PARQUET CLUSTERED BY ({key}) "
            f"SORTED BY ({key}) INTO {BUCKETS} BUCKETS"
        )

        def write(d: str) -> None:
            staging = "sg_staging_" + re.sub(r"\W", "_", os.path.basename(d))
            spark.sql(f"CREATE TABLE {staging} {table} LOCATION '{d}'")
            try:
                spark.sql(
                    f"INSERT OVERWRITE TABLE {staging} " + select.format(p=src)
                )
            finally:
                spark.sql(f"DROP TABLE {staging}")

        loc = generation_dir(sf_dir, "bucketed", tbl, [src], write)
        names[tbl] = f"sg_bucketed_{tbl}_{sf_name.replace('.', '_')}"
        spark.sql(f"DROP TABLE IF EXISTS {names[tbl]}")
        spark.sql(f"CREATE TABLE {names[tbl]} {table} LOCATION '{loc}'")

    orders = spark.table(names["orders"]).hint("merge")
    customer = spark.table(names["customer"])
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("o_cents").cast("long").alias("sum_cents"),
        )
    )


# --------------------------------------------------------------------------
# correlated subqueries — Catalyst decorrelation surface
# --------------------------------------------------------------------------
@REGISTRY.register(
    "q_exists_customers",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 400000)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'F'
                        AND o.o_totalprice < 50000)""",
    doc="Correlated EXISTS / NOT EXISTS subqueries, written as SQL so "
    "Catalyst's decorrelation does the work: customers with at least "
    "one 400k+ order and no cheap failed order. The rewrite turns both "
    "subqueries into left-SEMI and left-ANTI hash joins on the "
    "(uniform) customer key with the order-side predicates pushed to "
    "the scan — no per-row re-execution, which is what a naive "
    "correlated evaluation would cost at 100 TB.",
)
def q_exists_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(f"""
        SELECT c_custkey, c_name FROM parquet.`{sf_dir}/customer.parquet` c
        WHERE EXISTS (SELECT 1 FROM parquet.`{sf_dir}/orders.parquet` o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 400000)
          AND NOT EXISTS (SELECT 1 FROM parquet.`{sf_dir}/orders.parquet` o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderstatus = 'F'
                            AND o.o_totalprice < 50000)""")


@REGISTRY.register(
    "q_scalar_subquery_customers",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE (SELECT max(CAST(round(o.o_totalprice * 100) AS BIGINT))
           FROM orders o WHERE o.o_custkey = c.c_custkey)
          > 3 * (SELECT avg(CAST(round(o.o_totalprice * 100) AS BIGINT))
                 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
    doc="Correlated SCALAR aggregate subqueries (max vs 3x avg of each "
    "customer's own orders, exact integer cents so the avg is the same "
    "double on both engines): Catalyst decorrelates each into an "
    "aggregate-then-join on the customer key, and both subqueries scan "
    "the same table so the aggregated side is computed once per "
    "subquery, shuffled once — the decorrelated plan a hand-written "
    "groupBy+join would produce, straight from declarative SQL.",
)
def q_scalar_subquery_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(f"""
        SELECT c_custkey, c_name FROM parquet.`{sf_dir}/customer.parquet` c
        WHERE (SELECT max(CAST(round(o.o_totalprice * 100) AS BIGINT))
               FROM parquet.`{sf_dir}/orders.parquet` o
               WHERE o.o_custkey = c.c_custkey)
              > 3 * (SELECT avg(CAST(round(o.o_totalprice * 100) AS BIGINT))
                     FROM parquet.`{sf_dir}/orders.parquet` o
                     WHERE o.o_custkey = c.c_custkey)""")


@REGISTRY.register(
    "q_lateral_top_orders",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey, o.o_cents
    FROM customer c,
    LATERAL (SELECT o_orderkey,
                    CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents
             FROM orders
             WHERE o_custkey = c.c_custkey
             ORDER BY o_cents DESC, o_orderkey ASC LIMIT 2) o""",
    doc="LATERAL correlated subquery with ORDER BY + LIMIT: each "
    "customer's top-2 orders by price, written as the declarative "
    "per-row subquery and left to Catalyst to decorrelate into a "
    "set-based plan (rank-limited window over the join, not a per-row "
    "re-execution). The lateral form is the SQL-standard spelling of "
    "top-k-per-group; the DataFrame twin is analytics.top_per_group "
    "(WindowGroupLimit-asserted).",
)
def q_lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(f"""
        SELECT c.c_custkey, o.o_orderkey, o.o_cents
        FROM parquet.`{sf_dir}/customer.parquet` c,
        LATERAL (SELECT o_orderkey,
                        CAST(round(o_totalprice * 100) AS BIGINT) AS o_cents
                 FROM parquet.`{sf_dir}/orders.parquet`
                 WHERE o_custkey = c.c_custkey
                 ORDER BY o_cents DESC, o_orderkey ASC LIMIT 2) o""")


@REGISTRY.register(
    "q_full_outer_orders_customers",
    oracle="""
    WITH ord AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
                 FROM orders GROUP BY o_custkey),
    cust AS (SELECT c_custkey,
                    CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents
             FROM customer WHERE c_acctbal > 5000)
    SELECT coalesce(ord.o_custkey, cust.c_custkey) AS custkey,
           CAST(coalesce(ord.n_orders, 0) AS BIGINT) AS n_orders,
           coalesce(cust.acctbal_cents, CAST(-1 AS BIGINT)) AS acctbal_cents,
           ord.o_custkey IS NOT NULL AS has_orders,
           cust.c_custkey IS NOT NULL AS has_account
    FROM ord FULL OUTER JOIN cust ON ord.o_custkey = cust.c_custkey""",
    doc="FULL OUTER join reconciliation: order activity vs the "
    "high-balance account roster, keeping customers on EITHER side "
    "only (the two-ledger diff every reconciliation job runs). Keys "
    "coalesced, absence surfaced as explicit flags + sentinels. Scale "
    "shape: the orders side pre-aggregates to one row per customer "
    "BEFORE the join (partial counts combine map-side), then a "
    "shuffled SMJ on custkey - full outer cannot broadcast (both "
    "sides must retain unmatched rows), so reducing the fact side "
    "first is the lever.",
)
def q_full_outer_orders_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ord_agg = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 5000)
        .select(
            "c_custkey",
            F.round(F.col("c_acctbal") * 100).cast("long").alias("acctbal_cents"),
        )
    )
    joined = ord_agg.join(
        cust, ord_agg.o_custkey == cust.c_custkey, "full_outer"
    )
    return joined.select(
        F.coalesce("o_custkey", "c_custkey").alias("custkey"),
        F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
        F.coalesce("acctbal_cents", F.lit(-1)).cast("long").alias("acctbal_cents"),
        F.col("o_custkey").isNotNull().alias("has_orders"),
        F.col("c_custkey").isNotNull().alias("has_account"),
    )
