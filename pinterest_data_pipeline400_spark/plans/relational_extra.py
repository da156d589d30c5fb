"""Relational surface beyond the eight reference analogs: the TPC-H
tables the analog set leaves cold (lineitem's measures, part, supplier)
plus grouping-sets, anti-join, and time-range window-frame coverage.

Why these exist: a user switching from the reference engine brings the
rest of their warehouse workload with them — pricing rollups over the
fact table, dimension-enriched revenue cuts, "who has NO activity"
anti-joins, multi-grain grouping-sets reports, and rolling-window spend
features. Each entry is the idiomatic Catalyst-friendly form of one of
those shapes, with the same determinism rules as ``tpch_queries``
(integer cents, exact integer sums before any division, explicit
tiebreaks).

Scale notes:
  * lineitem is the 100 TB fact; part (SF*2k rows) and supplier
    (SF*100) are broadcast dims — every join here is a broadcast hash
    join with the fact side never shuffled before aggregation.
  * The grouping-sets aggregate EXPANDs inside one hash aggregate
    (partial combine map-side), not one job per grain.
  * The rolling-spend window partitions by customer (high cardinality,
    bounded rows per key) — never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.readers import read_parquet_table
from .registry import REGISTRY


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet_table(spark, sf_dir, name)


#: Both engines compute the identical IEEE-double product before the
#: *100 round, so the per-row cents are bit-identical; integer sums are
#: then order-independent. Parenthesization matters and matches.
_REVENUE_CENTS_SQL = "CAST(round((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)"


def _revenue_cents() -> F.Column:
    return F.round(
        (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))) * 100
    ).cast("long")


PRICING_CUTOFF = "2000-12-01"  # fixture shipdates span 1995..2001


@REGISTRY.register(
    "q_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_base_cents,
           CAST(sum({_REVENUE_CENTS_SQL}) AS BIGINT) AS sum_disc_cents,
           CAST(sum(CAST(round(((l_extendedprice * (1 - l_discount))
                                * (1 + l_tax)) * 100) AS BIGINT)) AS BIGINT)
             AS sum_charge_cents,
           CAST(count(*) AS BIGINT) AS count_order,
           round(CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE)
                 / count(*), 6) AS avg_qty,
           round(CAST(sum(CAST(round(l_discount * 10000) AS BIGINT)) AS DOUBLE)
                 / (10000 * count(*)), 6) AS avg_disc
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{PRICING_CUTOFF} 00:00:00'
    GROUP BY l_returnflag, l_linestatus""",
    doc="TPC-H Q1 pricing summary — the canonical fact-table rollup the "
    "analog set (q1..q8) never ran on lineitem's measures: per "
    "(returnflag, linestatus), exact integer-cent sums of base price, "
    "discounted price, and charge, plus averages derived from those "
    "exact integer sums (never a float mean, whose partial-aggregation "
    "order would differ between engines). Scale shape: single scan with "
    "the shipdate predicate pushed to parquet, one hash aggregate over "
    "a 6-group key — partial sums combine map-side, ~no shuffle volume.",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit(f"{PRICING_CUTOFF} 00:00:00").cast("timestamp")
    )
    qty = F.round(F.col("l_quantity")).cast("long")
    base_cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_cents = _revenue_cents()
    charge_cents = F.round(
        (
            (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
            * (F.lit(1) + F.col("l_tax"))
        )
        * 100
    ).cast("long")
    disc_bp = F.round(F.col("l_discount") * 10000).cast("long")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("long").alias("sum_qty"),
            F.sum(base_cents).cast("long").alias("sum_base_cents"),
            F.sum(disc_cents).cast("long").alias("sum_disc_cents"),
            F.sum(charge_cents).cast("long").alias("sum_charge_cents"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
            F.round(
                F.sum(qty).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_qty"),
            F.round(
                F.sum(disc_bp).cast("double") / (F.count(F.lit(1)) * 10000), 6
            ).alias("avg_disc"),
        )
    )


@REGISTRY.register(
    "q_supplier_nation_revenue",
    oracle=f"""
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
           CAST(sum({_REVENUE_CENTS_SQL}) AS BIGINT) AS revenue_cents
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    GROUP BY n_name""",
    doc="Revenue by supplier nation (TPC-H Q5's supplier leg): the fact "
    "table enriched through the supplier -> nation dimension chain. "
    "Both dims are SF-bounded-tiny (supplier SF*100, nation 25) so "
    "Catalyst broadcasts them — the lineitem side streams through two "
    "map-side hash joins unshuffled, and the only exchange is the final "
    "25-group aggregate of already-partial sums. The distinct-supplier "
    "count rides the same aggregate (expand), no second scan.",
)
def q_supplier_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.count_distinct(F.col("l_suppkey")).cast("long").alias("n_suppliers"),
            F.sum(_revenue_cents()).cast("long").alias("revenue_cents"),
        )
    )


@REGISTRY.register(
    "q_part_brand_margins",
    oracle=f"""
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(sum({_REVENUE_CENTS_SQL}) AS BIGINT) AS revenue_cents,
           CAST(sum(CAST(round((l_extendedprice
                                - p_retailprice * l_quantity) * 100) AS BIGINT))
                AS BIGINT) AS margin_cents
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand""",
    doc="Per-brand realized margin: the fact table joined to the part "
    "dimension (first consumer of `part` in the suite), margin = "
    "extended price minus retail valuation of the quantity, summed as "
    "exact per-row integer cents. part is SF*2k rows — broadcast, so "
    "the plan is scan -> map-side hash join -> partial-combined "
    "aggregate on the small brand key. The per-row double products "
    "match the oracle bit-for-bit (identical parenthesization) before "
    "the integer round.",
)
def q_part_brand_margins(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    margin_cents = F.round(
        (F.col("l_extendedprice") - F.col("p_retailprice") * F.col("l_quantity")) * 100
    ).cast("long")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.count_distinct(F.col("l_partkey")).cast("long").alias("n_parts"),
            F.sum(_revenue_cents()).cast("long").alias("revenue_cents"),
            F.sum(margin_cents).cast("long").alias("margin_cents"),
        )
    )


@REGISTRY.register(
    "q_grouping_sets_region_segment",
    oracle="""
    SELECT coalesce(r_name, 'ALL') AS r_name,
           coalesce(c_mktsegment, 'ALL') AS c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS acctbal_cents
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((r_name, c_mktsegment), (r_name),
                            (c_mktsegment), ())""",
    doc="GROUPING SETS — the general form rollup and cube are sugar "
    "over (ev_rollup_multigrain / ev_cube_day_type cover those): the "
    "four explicitly chosen grains of the region x segment customer "
    "report in ONE aggregate. Spark plans a single Expand + hash "
    "aggregate (each input row fans to its 4 grain rows map-side, "
    "partials combine before the shuffle) — never one job per grain. "
    "Grain labels are coalesced to 'ALL' so the driver hash never "
    "depends on engine NULL ordering.",
)
def q_grouping_sets_region_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    joined = cust.join(
        F.broadcast(nat), cust.c_nationkey == nat.n_nationkey
    ).join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    grains = joined.groupingSets(
        [["r_name", "c_mktsegment"], ["r_name"], ["c_mktsegment"], []],
        "r_name",
        "c_mktsegment",
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(F.round(F.col("c_acctbal") * 100).cast("long"))
        .cast("long")
        .alias("acctbal_cents"),
    )
    return grains.select(
        F.coalesce("r_name", F.lit("ALL")).alias("r_name"),
        F.coalesce("c_mktsegment", F.lit("ALL")).alias("c_mktsegment"),
        "n_customers",
        "acctbal_cents",
    )


@REGISTRY.register(
    "q_anti_join_customers",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey)""",
    doc="Customers with zero orders — the DataFrame-API left-ANTI join "
    "(q_exists_customers is the SQL spelling Catalyst decorrelates to "
    "the same operator). Anti joins are the 'what is missing' half of "
    "every reconciliation: one hash join on the uniform customer key, "
    "the orders side reduced to its join column at the scan (column "
    "pruning), nothing retained but non-matches.",
)
def q_anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select(
            "c_custkey",
            "c_name",
            F.round(F.col("c_acctbal") * 100).cast("long").alias("acctbal_cents"),
        )
    )


ROLLING_DAYS = 90  # inclusive window: today + the 89 preceding days


@REGISTRY.register(
    "orders_rolling_90d_spend",
    oracle=f"""
    WITH o AS (SELECT o_orderkey, o_custkey,
                      date_diff('day', DATE '1970-01-01',
                                CAST(o_orderdate AS DATE)) AS day_num,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders)
    SELECT o_orderkey, o_custkey, CAST(day_num AS BIGINT) AS day_num,
           CAST(sum(cents) OVER w AS BIGINT) AS rolling_cents,
           CAST(count(*) OVER w AS BIGINT) AS n_orders_90d
    FROM o
    WINDOW w AS (PARTITION BY o_custkey ORDER BY day_num
                 RANGE BETWEEN {ROLLING_DAYS - 1} PRECEDING AND CURRENT ROW)""",
    doc="Per-customer rolling 90-day spend at every order — the classic "
    "time-RANGE window frame (a peer-inclusive value range over epoch "
    "days, not a ROWS frame: same-day orders are always all in or all "
    "out together, which makes the result deterministic under ties "
    "without any tiebreak column). Partitioned by the high-cardinality "
    "customer key with bounded rows per key — one shuffle, per-key "
    "sorts only, never a global sort. The feature-engineering shape "
    "behind every trailing-spend / trailing-activity model input.",
)
def orders_rolling_90d_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day_num"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day_num")
        .rangeBetween(-(ROLLING_DAYS - 1), 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "day_num",
        F.sum("cents").over(w).cast("long").alias("rolling_cents"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_orders_90d"),
    )


RFM_ASOF = "2001-09-01"  # analysis date: just past the last fixture order


@REGISTRY.register(
    "orders_rfm_segments",
    oracle=f"""
    WITH rfm AS (
      SELECT o_custkey,
             date_diff('day', CAST(max(o_orderdate) AS DATE),
                       DATE '{RFM_ASOF}') AS recency_days,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS monetary_cents
      FROM orders GROUP BY o_custkey),
    thr AS (SELECT round(quantile_cont(CAST(recency_days AS DOUBLE), 0.5), 6) AS r_med,
                   round(quantile_cont(CAST(frequency AS DOUBLE), 0.5), 6) AS f_med,
                   round(quantile_cont(CAST(monetary_cents AS DOUBLE), 0.5), 6) AS m_med
            FROM rfm),
    seg AS (SELECT r.*,
                   (CAST(r.recency_days AS DOUBLE) <= t.r_med) AS recent,
                   (CAST(r.frequency AS DOUBLE) > t.f_med) AS frequent,
                   (CAST(r.monetary_cents AS DOUBLE) > t.m_med) AS big_spender
            FROM rfm r CROSS JOIN thr t)
    SELECT CASE WHEN recent AND frequent AND big_spender THEN 'champion'
                WHEN recent AND (frequent OR big_spender) THEN 'loyal'
                WHEN NOT recent AND (frequent OR big_spender) THEN 'at_risk'
                WHEN recent THEN 'new'
                ELSE 'hibernating' END AS segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(monetary_cents) AS BIGINT) AS segment_cents,
           CAST(min(recency_days) AS BIGINT) AS min_recency_days,
           CAST(max(recency_days) AS BIGINT) AS max_recency_days
    FROM seg GROUP BY 1""",
    doc="RFM customer segmentation — the classic recency/frequency/"
    "monetary analysis, composed scale-first: per-customer RFM facts "
    "from ONE partial-combined aggregate over orders (exact integer "
    "cents, integer day recency against a fixed analysis date), the "
    "three median THRESHOLDS as one tiny percentile aggregate "
    "broadcast back (the docs_quality_buckets pattern — never a "
    "global-sort ntile; exact `percentile` in oracle mode, "
    "`percentile_approx` under SPARK_GRAFT_PERCENTILE_MODE=approx via "
    "config.percentile_exact(), same branch as "
    "ev_value_deciles_bounded), segments by boolean comparison, and a "
    "5-group rollup. Two shuffles total at any scale: the customer "
    "aggregate and the bounded segment aggregate. Medians rounded to "
    "6 dp on both engines; all comparisons are against integers cast "
    "to double, so the knife edges are the rounded thresholds "
    "themselves, identical by construction.",
)
def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.datediff(
            F.lit(RFM_ASOF).cast("date"), F.max(F.col("o_orderdate").cast("date"))
        ).alias("recency_days"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("monetary_cents"),
    )
    from ..config import PERCENTILE_ACCURACY, percentile_exact

    if percentile_exact():  # oracle mode: matches quantile_cont exactly
        med = "percentile(CAST({c} AS DOUBLE), 0.5)"
    else:  # 100 TB mode: bounded-memory mergeable sketch
        med = f"percentile_approx(CAST({{c}} AS DOUBLE), 0.5, {PERCENTILE_ACCURACY})"
    thr = rfm.agg(
        F.round(F.expr(med.format(c="recency_days")), 6).alias("r_med"),
        F.round(F.expr(med.format(c="frequency")), 6).alias("f_med"),
        F.round(F.expr(med.format(c="monetary_cents")), 6).alias("m_med"),
    )
    seg = rfm.crossJoin(F.broadcast(thr)).select(
        "*",
        (F.col("recency_days").cast("double") <= F.col("r_med")).alias("recent"),
        (F.col("frequency").cast("double") > F.col("f_med")).alias("frequent"),
        (F.col("monetary_cents").cast("double") > F.col("m_med")).alias("big_spender"),
    )
    segment = (
        F.when(F.col("recent") & F.col("frequent") & F.col("big_spender"), "champion")
        .when(F.col("recent") & (F.col("frequent") | F.col("big_spender")), "loyal")
        .when(~F.col("recent") & (F.col("frequent") | F.col("big_spender")), "at_risk")
        .when(F.col("recent"), "new")
        .otherwise("hibernating")
    )
    return seg.groupBy(segment.alias("segment")).agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("monetary_cents").cast("long").alias("segment_cents"),
        F.min("recency_days").cast("long").alias("min_recency_days"),
        F.max("recency_days").cast("long").alias("max_recency_days"),
    )


# --------------------------------------------------------------------------
# round-6 additions: the remaining canonical TPC-H shapes — fact-side
# EXISTS decorrelation (Q4), aggregate-before-join distribution (Q13),
# scalar-aggregate share threshold (Q11), argmax-by-scalar-subquery
# (Q15), scalar-threshold + anti-join (Q22) — plus consecutive-row
# gap features and a MERGE-style batch upsert.
# --------------------------------------------------------------------------

Q4_START, Q4_END = "1998-01-01", "1998-04-01"  # fixture orders 1995..2001-08


@REGISTRY.register(
    "q_order_priority_exists",
    oracle=f"""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '{Q4_START} 00:00:00'
      AND o.o_orderdate < TIMESTAMP '{Q4_END} 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority""",
    doc="TPC-H Q4 order-priority checking: orders in a 3-month window "
    "that have at least one line shipped after the order date, counted "
    "per priority — the canonical correlated EXISTS on the FACT side "
    "(q_exists_customers covers only the dimension side; VERDICT r5 "
    "task #6). Expressed as a LEFT SEMI join with the non-equi date "
    "predicate in the join condition, which is exactly what Catalyst "
    "decorrelates the EXISTS into: the semi join never duplicates or "
    "carries lineitem columns, the 3-month o_orderdate range is pushed "
    "to the orders parquet scan, and at 100 TB both sides shuffle once "
    "on orderkey (or co-locate for free on a bucketed layout — "
    "bucketed_join_customer_orders shows that path).",
)
def q_order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(f"{Q4_START} 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(f"{Q4_END} 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    sem = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"]) & (li["l_shipdate"] > o["o_orderdate"]),
        "left_semi",
    )
    return sem.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("order_count")
    )


@REGISTRY.register(
    "q_customer_order_distribution",
    oracle="""
    WITH per_cust AS (
      SELECT c.c_custkey,
             CAST(coalesce(n.n_orders, 0) AS BIGINT) AS c_count
      FROM customer c
      LEFT JOIN (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
                 FROM orders WHERE o_orderpriority <> '1-URGENT'
                 GROUP BY o_custkey) n
        ON c.c_custkey = n.o_custkey)
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM per_cust GROUP BY c_count""",
    doc="TPC-H Q13 customer order distribution: how many customers "
    "placed k non-urgent orders, INCLUDING the zero-order customers "
    "the inner join would silently drop. Composed aggregate-first: the "
    "orders fact is reduced to one row per custkey (partial counts "
    "combine map-side) BEFORE the left join to the customer dim, so "
    "the join carries counts, not orders — at 100 TB that's the "
    "difference between shuffling ~1.5e9 pre-aggregated rows and "
    "~1.5e10 raw order rows; the final distribution groupBy is over "
    "~dozens of distinct k values and shuffles nothing. Equivalent to "
    "Q13's canonical join-then-double-aggregate because count(order) "
    "per customer is algebraic.",
)
def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    n = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )
    per = c.join(n, c["c_custkey"] == n["o_custkey"], "left").select(
        F.coalesce(F.col("n_orders"), F.lit(0)).cast("long").alias("c_count")
    )
    return per.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("long").alias("custdist")
    )


#: Fraction of corpus revenue above which a part is "important" —
#: 1.5x the mean share for the fixture's 2k parts; at any scale the
#: comparison stays (exact bigint cents) > (exact bigint total * frac).
IMPORTANT_SHARE = 0.00075


@REGISTRY.register(
    "q_important_parts_share",
    oracle=f"""
    WITH pr AS (SELECT l_partkey,
                       CAST(sum({_REVENUE_CENTS_SQL}) AS BIGINT) AS revenue_cents
                FROM lineitem GROUP BY l_partkey),
    tot AS (SELECT CAST(sum(revenue_cents) AS BIGINT) AS t FROM pr)
    SELECT pr.l_partkey AS partkey, pr.revenue_cents
    FROM pr CROSS JOIN tot
    WHERE pr.revenue_cents > tot.t * {IMPORTANT_SHARE}""",
    doc="TPC-H Q11-style important-stock cut: parts whose discounted "
    "revenue exceeds a fixed fraction of TOTAL corpus revenue — the "
    "scalar-aggregate-subquery threshold shape. One hash aggregate "
    "builds per-part integer-cent revenue; the global total re-reduces "
    "THAT aggregate (tiny — one row per part, ReusedExchange picks up "
    "the shared shuffle under AQE) and broadcasts one row back; the "
    "filter is exact-bigint > exact-bigint*frac, identical on both "
    "engines because the total is an order-free integer sum well "
    "under 2^53. Never a window-over-everything (which would funnel "
    "the whole frame through one task).",
)
def q_important_parts_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    pr = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(_revenue_cents()).cast("long").alias("revenue_cents"))
    )
    tot = pr.agg(F.sum("revenue_cents").cast("long").alias("t"))
    return (
        pr.crossJoin(F.broadcast(tot))
        .filter(F.col("revenue_cents") > F.col("t") * F.lit(IMPORTANT_SHARE))
        .select("partkey", "revenue_cents")
    )


TOP_SUPP_START, TOP_SUPP_END = "1998-01-01", "1998-04-01"


@REGISTRY.register(
    "q_top_supplier_revenue",
    oracle=f"""
    WITH r AS (SELECT l_suppkey,
                      CAST(sum({_REVENUE_CENTS_SQL}) AS BIGINT)
                        AS total_revenue_cents
               FROM lineitem
               WHERE l_shipdate >= TIMESTAMP '{TOP_SUPP_START} 00:00:00'
                 AND l_shipdate < TIMESTAMP '{TOP_SUPP_END} 00:00:00'
               GROUP BY l_suppkey),
    mx AS (SELECT CAST(max(total_revenue_cents) AS BIGINT) AS m FROM r)
    SELECT s.s_suppkey, s.s_name, r.total_revenue_cents
    FROM supplier s JOIN r ON s.s_suppkey = r.l_suppkey
    CROSS JOIN mx WHERE r.total_revenue_cents = mx.m""",
    doc="TPC-H Q15 top supplier: the supplier(s) whose quarterly "
    "discounted revenue equals the maximum — argmax by scalar "
    "subquery, which (unlike a row_number-over-everything) keeps every "
    "stage bounded: per-supplier integer-cent revenue is one hash "
    "aggregate with the quarter predicate pushed to the scan, the max "
    "re-reduces that small aggregate to ONE row broadcast back, and "
    "the supplier dim joins by broadcast. Ties (multiple suppliers at "
    "the max) are all returned, as in the spec — exact integer cents "
    "make 'equal to max' deterministic, where float revenue would make "
    "it engine-dependent.",
)
def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit(f"{TOP_SUPP_START} 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(f"{TOP_SUPP_END} 00:00:00").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(_revenue_cents()).cast("long").alias("total_revenue_cents"))
    )
    mx = r.agg(F.max("total_revenue_cents").cast("long").alias("m"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        s.join(r, s["s_suppkey"] == r["l_suppkey"])
        .crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue_cents") == F.col("m"))
        .select("s_suppkey", "s_name", "total_revenue_cents")
    )


IDLE_SINCE = "2001-01-01"  # "idle" = no orders on/after this date


@REGISTRY.register(
    "q_idle_rich_customers",
    oracle=f"""
    WITH bal AS (SELECT c_custkey, c_mktsegment,
                        CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
                 FROM customer),
    thr AS (SELECT round(CAST(sum(CASE WHEN bal_cents > 0 THEN bal_cents
                                       ELSE 0 END) AS DOUBLE)
                         / count(*) FILTER (WHERE bal_cents > 0), 6)
                     AS avg_pos_cents
            FROM bal)
    SELECT b.c_mktsegment,
           CAST(count(*) AS BIGINT) AS numcust,
           CAST(sum(b.bal_cents) AS BIGINT) AS total_bal_cents
    FROM bal b CROSS JOIN thr
    WHERE b.bal_cents > thr.avg_pos_cents
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = b.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '{IDLE_SINCE} 00:00:00')
    GROUP BY b.c_mktsegment""",
    doc="TPC-H Q22 global-sales-opportunity shape: customers with "
    "above-average positive balance and NO recent orders, rolled up "
    "per market segment — scalar-aggregate threshold + NOT EXISTS "
    "anti-join + aggregate in one plan. The average-positive-balance "
    "threshold derives from an order-free integer-cent sum (1 row, "
    "broadcast back); the NOT EXISTS decorrelates to a LEFT ANTI join "
    "against only the orders rows surviving the pushed o_orderdate "
    "cutoff (at 100 TB the anti-join probe side is the recent slice, "
    "not all history); the final rollup is a handful of segments. "
    "Compares bigint cents to the 6-dp-rounded double threshold — "
    "knife edges are the rounded threshold itself, identical on both "
    "engines.",
)
def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    bal = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    thr = bal.agg(
        F.round(
            F.sum(
                F.when(F.col("bal_cents") > 0, F.col("bal_cents")).otherwise(0)
            ).cast("double")
            / F.count(F.when(F.col("bal_cents") > 0, F.lit(1))),
            6,
        ).alias("avg_pos_cents")
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit(f"{IDLE_SINCE} 00:00:00").cast("timestamp"))
        .select("o_custkey")
    )
    rich = bal.crossJoin(F.broadcast(thr)).filter(
        F.col("bal_cents") > F.col("avg_pos_cents")
    )
    idle_rich = rich.join(recent, rich["c_custkey"] == recent["o_custkey"], "left_anti")
    return idle_rich.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("numcust"),
        F.sum("bal_cents").cast("long").alias("total_bal_cents"),
    )


@REGISTRY.register(
    "orders_interorder_gaps",
    oracle="""
    WITH g AS (SELECT o_custkey,
                      datediff('day',
                               lag(o_orderdate) OVER (PARTITION BY o_custkey
                                                      ORDER BY o_orderdate,
                                                               o_orderkey),
                               o_orderdate) AS gap
               FROM orders)
    SELECT o_custkey AS custkey,
           CAST(count(gap) AS BIGINT) AS n_gaps,
           CAST(sum(gap) AS BIGINT) AS sum_gap_days,
           CAST(max(gap) AS BIGINT) AS max_gap_days,
           round(CAST(sum(gap) AS DOUBLE) / count(gap), 6) AS avg_gap_days
    FROM g GROUP BY o_custkey HAVING count(gap) > 0""",
    doc="Inter-order gap features per customer — the classic "
    "consecutive-row lag() shape that feeds churn/LTV models: day gaps "
    "between successive orders (ties broken by o_orderkey so the lag "
    "is deterministic), aggregated to per-customer count/sum/max/mean "
    "with the mean derived from the exact integer day sum. Scale "
    "shape: the window partitions by o_custkey — high cardinality, "
    "bounded rows per key — so it sorts small per-key runs after one "
    "shuffle, never a global sort; the follow-up aggregate reuses the "
    "same key so AQE coalesces it onto the window's partitioning.",
)
def orders_interorder_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).alias("gap"),
    )
    return (
        g.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count("gap").cast("long").alias("n_gaps"),
            F.sum("gap").cast("long").alias("sum_gap_days"),
            F.max("gap").cast("long").alias("max_gap_days"),
            F.round(F.sum("gap").cast("double") / F.count("gap"), 6).alias(
                "avg_gap_days"
            ),
        )
        .filter(F.col("n_gaps") > 0)
    )


DIVISION_YEAR = 1998


@REGISTRY.register(
    "q_division_customers",
    oracle=f"""
    WITH m AS (SELECT o_custkey,
                      CAST(count(DISTINCT date_part('quarter', o_orderdate))
                           AS BIGINT) AS n_quarters,
                      CAST(count(*) AS BIGINT) AS n_orders
               FROM orders
               WHERE date_part('year', o_orderdate) = {DIVISION_YEAR}
               GROUP BY o_custkey
               HAVING count(DISTINCT date_part('quarter', o_orderdate)) = 4)
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(m.n_orders) AS BIGINT) AS n_orders
    FROM m JOIN customer c ON c.c_custkey = m.o_custkey
    GROUP BY c.c_mktsegment""",
    doc="Relational DIVISION — 'customers who ordered in EVERY quarter "
    f"of {DIVISION_YEAR}' — the universal-quantifier query shape "
    "(suppliers stocking all parts, users hitting all features), "
    "expressed the scale-right way: not an N-way self-join chain but "
    "ONE aggregate with a distinct-quarter count and HAVING = 4, then "
    "a dim join and segment rollup. The year predicate pushes to the "
    "scan; count(DISTINCT quarter) partial-aggregates as a 4-value "
    "set per customer — bounded state per key at any corpus size. "
    "(Quarter granularity keeps the divisor satisfiable at fixture "
    "order density; the shape is identical for any divisor set.)",
)
def q_division_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = (
        _t(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate") == DIVISION_YEAR)
        .groupBy("o_custkey")
        .agg(
            F.countDistinct(F.quarter("o_orderdate")).cast("long").alias("n_quarters"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
        .filter(F.col("n_quarters") == 4)
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        m.join(F.broadcast(c), m["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("n_orders").cast("long").alias("n_orders"),
        )
    )


@REGISTRY.register(
    "orders_spend_percentile",
    oracle="""
    WITH spend AS (SELECT o.o_custkey AS custkey,
                          any_value(c.c_mktsegment) AS segment,
                          CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                               AS BIGINT) AS spend_cents
                   FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
                   GROUP BY o.o_custkey)
    SELECT custkey, segment, spend_cents,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM spend
    WINDOW w AS (PARTITION BY segment ORDER BY spend_cents, custkey)""",
    doc="percent_rank / cume_dist coverage: each customer's lifetime "
    "spend ranked within their market segment — the percentile "
    "feature scoring/LTV models consume. Exact integer-cent spend "
    "from one partial-combined aggregate; the rank window partitions "
    "by segment with a (spend, custkey) tiebreak so both statistics "
    "are tie-free deterministic. SCALE CAVEAT (the ev_value_deciles "
    "trade, documented not hidden): percent_rank needs the full "
    "per-segment sort, and with ~5 segments each partition is ~n/5 — "
    "fine to tens of millions per segment, but at true 100 TB the "
    "broadcast-threshold bucketing form (ev_value_deciles_bounded / "
    "orders_rfm_segments) is the one to run; this entry exists for "
    "exact-percentile semantics and operator coverage.",
)
def orders_spend_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    spend = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.any_value("c_mktsegment").alias("segment"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("spend_cents"),
        )
    )
    w = Window.partitionBy("segment").orderBy("spend_cents", "custkey")
    return spend.select(
        "custkey",
        "segment",
        "spend_cents",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@REGISTRY.register(
    "orders_yoy_growth",
    oracle="""
    WITH y AS (SELECT CAST(date_part('year', o_orderdate) AS INT) AS year,
                      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                           AS BIGINT) AS rev_cents,
                      CAST(count(*) AS BIGINT) AS n_orders
               FROM orders GROUP BY 1),
    g AS (SELECT year, rev_cents, n_orders,
                 lag(rev_cents) OVER (ORDER BY year) AS prev_cents
          FROM y)
    SELECT year, rev_cents, n_orders,
           CAST(rev_cents - prev_cents AS BIGINT) AS yoy_delta_cents,
           round((CAST(rev_cents AS DOUBLE) - prev_cents) / prev_cents * 100,
                 6) AS yoy_growth_pct
    FROM g WHERE prev_cents IS NOT NULL""",
    doc="Year-over-year revenue growth — the lag-on-an-aggregated-"
    "series reporting shape (every exec dashboard's top line): one "
    "partial-combined hash aggregate collapses the fact table to ~7 "
    "year rows, THEN the lag window runs on that tiny frame. The "
    "single-partition window is harmless by construction — its input "
    "is post-aggregation, bounded by distinct years, not by corpus "
    "size; the scale-relevant work (the fact scan and integer-cent "
    "sums) all map-side combines. First year is dropped rather than "
    "emitted with NULL deltas: a nullable BIGINT column arrives in "
    "pandas as float64 and the driver's value-hash is "
    "representation-sensitive.",
)
def orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    y = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.year("o_orderdate").cast("int").alias("year"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("rev_cents"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
    )
    w = Window.orderBy("year")
    g = y.withColumn("prev_cents", F.lag("rev_cents").over(w))
    return g.filter(F.col("prev_cents").isNotNull()).select(
        "year",
        "rev_cents",
        "n_orders",
        (F.col("rev_cents") - F.col("prev_cents")).cast("long").alias("yoy_delta_cents"),
        F.round(
            (F.col("rev_cents").cast("double") - F.col("prev_cents"))
            / F.col("prev_cents")
            * 100,
            6,
        ).alias("yoy_growth_pct"),
    )
LARGE_VOLUME_QTY = 200  # sf0.01: 874 qualifying orders (top ~6% tail)


@REGISTRY.register(
    "q_large_volume_customers",
    oracle=f"""
    WITH big AS (SELECT l_orderkey,
                        CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
                          AS sum_qty
                 FROM lineitem GROUP BY l_orderkey
                 HAVING sum(CAST(round(l_quantity) AS BIGINT))
                        > {LARGE_VOLUME_QTY})
    SELECT c.c_name, o.o_custkey, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS totalprice_cents,
           b.sum_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey""",
    doc="TPC-H Q18 large-volume customers: orders whose total lineitem "
    f"quantity exceeds {LARGE_VOLUME_QTY}, enriched with customer and "
    "order facts — the HAVING-on-a-fact-aggregate-then-enrich shape "
    "(find the heavy tail, then join context onto only the survivors). "
    "Scale order matters and is encoded in the plan: the lineitem "
    "aggregate (map-side-combinable integer quantity sums, ~4 rows per "
    "orderkey) runs FIRST and the ~top-percent survivors drive the "
    "joins — orders is joined on its key, customer broadcasts — so "
    "neither dimension-side shuffle ever sees the full fact. The "
    "classic wrong plan (join first, aggregate later) would shuffle "
    "the whole fact table twice.",
)
def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    big = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(F.round(F.col("l_quantity")).cast("long"))
            .cast("long")
            .alias("sum_qty")
        )
        .filter(F.col("sum_qty") > LARGE_VOLUME_QTY)
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("totalprice_cents"),
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), F.col("o_custkey") == c["c_custkey"])
        .select(
            "c_name",
            "o_custkey",
            "o_orderkey",
            "orderdate",
            "totalprice_cents",
            "sum_qty",
        )
    )


PARETO_NUM = 4  # prefix covers >= PARETO_NUM/PARETO_DEN of segment revenue
PARETO_DEN = 5  # i.e. the classic 80%


@REGISTRY.register(
    "orders_pareto_share",
    oracle=f"""
    WITH spend AS (SELECT o.o_custkey AS custkey,
                          any_value(c.c_mktsegment) AS segment,
                          CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                               AS BIGINT) AS cents
                   FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
                   GROUP BY o.o_custkey),
    cum AS (SELECT segment, cents,
                   CAST(sum(cents) OVER (PARTITION BY segment
                                         ORDER BY cents DESC, custkey
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT)
                     AS cum_cents,
                   CAST(sum(cents) OVER (PARTITION BY segment) AS BIGINT)
                     AS total_cents
            FROM spend)
    SELECT segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CASE WHEN (cum_cents - cents) * {PARETO_DEN}
                              < total_cents * {PARETO_NUM}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_top80,
           round(CAST(sum(CASE WHEN (cum_cents - cents) * {PARETO_DEN}
                                    < total_cents * {PARETO_NUM}
                               THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
             AS top80_frac,
           CAST(any_value(total_cents) AS BIGINT) AS total_cents
    FROM cum GROUP BY segment""",
    doc="Pareto concentration — how few customers cover 80% of each "
    "segment's revenue (the whale-curve / revenue-concentration report "
    "behind every account-tiering decision). A customer is in the "
    "minimal covering prefix iff the cumulative spend BEFORE them is "
    "under 80% of the segment total; that inequality is evaluated in "
    "pure INTEGER cross-multiplied form (cum*5 < total*4 — no "
    "float threshold, no knife edge). One exact integer-cent "
    "aggregate, then a per-segment running-sum window with a "
    "(cents desc, custkey) tiebreak. SCALE CAVEAT (same as "
    "orders_spend_percentile, documented not hidden): the running sum "
    "needs the per-segment sort; fine to tens of millions per "
    "segment, past that the broadcast-threshold quantile form "
    "approximates the same report without the sort.",
)
def orders_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    spend = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.any_value("c_mktsegment").alias("segment"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
        )
    )
    wrun = (
        Window.partitionBy("segment")
        .orderBy(F.col("cents").desc(), F.col("custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("segment")
    cum = spend.select(
        "segment",
        "cents",
        F.sum("cents").over(wrun).cast("long").alias("cum_cents"),
        F.sum("cents").over(wall).cast("long").alias("total_cents"),
    )
    in_prefix = (
        (F.col("cum_cents") - F.col("cents")) * PARETO_DEN
        < F.col("total_cents") * PARETO_NUM
    ).cast("int")
    return cum.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(in_prefix).cast("long").alias("n_top80"),
        F.round(F.sum(in_prefix).cast("double") / F.count(F.lit(1)), 6).alias(
            "top80_frac"
        ),
        F.any_value("total_cents").cast("long").alias("total_cents"),
    )


@REGISTRY.register(
    "orders_gini_spend",
    oracle="""
    WITH spend AS (SELECT o_custkey AS custkey,
                          CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                               AS BIGINT) AS cents
                   FROM orders GROUP BY o_custkey),
    r AS (SELECT cents,
                 CAST(row_number() OVER (ORDER BY cents ASC, custkey ASC)
                      AS BIGINT) AS rk
          FROM spend),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(cents) AS BIGINT) AS tot,
                 sum(CAST(rk AS HUGEINT) * cents) AS rksum
          FROM r)
    SELECT n AS n_customers, tot AS total_cents,
           round(CAST(2 * rksum AS DOUBLE) / (CAST(n AS DOUBLE) * tot)
                 - CAST(n + 1 AS DOUBLE) / n, 6) AS gini
    FROM s""",
    doc="GINI COEFFICIENT of customer spend concentration — the "
    "single-number inequality gauge beside orders_pareto_share's "
    "whale curve (0 = everyone spends alike, 1 = one customer is the "
    "business; the standard rank formula G = 2*sum(i*x_i)/(n*sum x) "
    "- (n+1)/n over ascending spend). Drift in G between corpus "
    "snapshots is a one-row portfolio-health tripwire the per-segment "
    "Pareto table is too wide to alarm on. Determinism: integer cents, "
    "integer ranks (ties broken by custkey identically on both "
    "engines — with tied x the formula is invariant to which tied row "
    "gets which rank, since it depends on ties only through their "
    "rank SUM, but the pinned order makes the intermediate frame "
    "hash-identical too), one double expression at the end. Headroom: "
    "rank*cents sums in decimal(38,0) / HUGEINT (128-bit — ~1e9 "
    "customers x ~1e9 cents peaks ~1e27, far inside 38 digits), so "
    "the int64 overflow the r10 verdict flagged cannot occur. Scale "
    "shape: the global row_number funnels every customer through ONE "
    "sort task — this entry is the exact SMALL-CORPUS form; the "
    "registered scale twin is orders_gini_spend_binned, which computes "
    "the IDENTICAL value with the heavy window partitioned by spend "
    "bin (the percentile family's documented switch, implemented).",
)
def orders_gini_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    w = Window.orderBy(F.col("cents").asc(), F.col("custkey").asc())
    r = spend.select("cents", F.row_number().over(w).cast("long").alias("rk"))
    s = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("tot"),
        F.sum(F.col("rk").cast("decimal(38,0)") * F.col("cents")).alias("rksum"),
    )
    return s.select(
        F.col("n").alias("n_customers"),
        F.col("tot").alias("total_cents"),
        F.round(
            (2 * F.col("rksum")).cast("double")
            / (F.col("n").cast("double") * F.col("tot"))
            - (F.col("n") + 1).cast("double") / F.col("n"),
            6,
        ).alias("gini"),
    )


#: Spend bins for the distributed Gini: equi-width on integer cents.
#: 4096 caps the offsets pass at a constant row count while keeping
#: the largest bin a small fraction of the population.
GINI_BINS = 4096


@REGISTRY.register(
    "orders_gini_spend_binned",
    oracle=f"""
    WITH spend AS (SELECT o_custkey AS custkey,
                          CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                               AS BIGINT) AS cents
                   FROM orders GROUP BY o_custkey),
    mx AS (SELECT max(cents) AS mx FROM spend),
    b AS (SELECT custkey, cents,
                 CAST((cents * {GINI_BINS}) // (mx + 1) AS INT) AS bin
          FROM spend, mx),
    lr AS (SELECT bin, cents,
                  CAST(row_number() OVER (PARTITION BY bin
                                          ORDER BY cents ASC, custkey ASC)
                       AS BIGINT) AS lr
           FROM b),
    pb AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_k,
                  CAST(sum(cents) AS BIGINT) AS s_k,
                  sum(CAST(lr AS HUGEINT) * cents) AS lrk
           FROM lr GROUP BY bin),
    o AS (SELECT bin, n_k, s_k, lrk,
                 COALESCE(sum(n_k) OVER (ORDER BY bin
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) AS off
          FROM pb),
    s AS (SELECT CAST(sum(n_k) AS BIGINT) AS n,
                 CAST(sum(s_k) AS BIGINT) AS tot,
                 sum(CAST(off AS HUGEINT) * s_k + lrk) AS rksum
          FROM o)
    SELECT n AS n_customers, tot AS total_cents,
           round(CAST(2 * rksum AS DOUBLE) / (CAST(n AS DOUBLE) * tot)
                 - CAST(n + 1 AS DOUBLE) / n, 6) AS gini
    FROM s""",
    doc="BINNED-LORENZ GINI — the scale twin of orders_gini_spend "
    "(VERDICT r10 task #2), computing the IDENTICAL exact value with "
    "no customer-grain global sort. The trick: equi-width integer "
    "bins on cents, bin = (cents * 4096) DIV (max+1) (integer "
    "division on both engines — float binning could disagree at bin "
    "edges), are MONOTONE in spend, and ties in cents always share a "
    "bin, so the global ascending (cents, custkey) rank decomposes "
    "exactly as rank = offset(bin) + local_rank: the heavy row_number "
    "partitions by bin (distributed — 4096-way, never one task), "
    "per-bin sums combine map-side, and the only unpartitioned window "
    "is the bin-offset cumulative over AT MOST 4096 aggregate rows — "
    "bounded by the constant, not the data. rksum = sum_k(offset_k * "
    "s_k + local_rksum_k) reassembles the global sum exactly; "
    "decimal(38,0)/HUGEINT intermediates carry the ~1e27 peak at "
    "1e9-customer scale (int64-headroom note resolved). Equality with "
    "the exact entry is pinned in pytest; residual skew (a popular "
    "spend bin) is bounded by the bin width and can be split by "
    "raising GINI_BINS — a constant, no plan change.",
)
def orders_gini_spend_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    mx = spend.agg(F.max("cents").alias("mx"))
    b = spend.crossJoin(F.broadcast(mx)).select(
        "custkey",
        "cents",
        F.expr(f"CAST((cents * {GINI_BINS}) DIV (mx + 1) AS INT)").alias("bin"),
    )
    w = Window.partitionBy("bin").orderBy(
        F.col("cents").asc(), F.col("custkey").asc()
    )
    lr = b.select(
        "bin", "cents", F.row_number().over(w).cast("long").alias("lr")
    )
    pb = lr.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_k"),
        F.sum("cents").cast("long").alias("s_k"),
        F.sum(F.col("lr").cast("decimal(38,0)") * F.col("cents")).alias("lrk"),
    )
    wo = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    off = pb.withColumn(
        "off", F.coalesce(F.sum("n_k").over(wo), F.lit(0)).cast("long")
    )
    s = off.agg(
        F.sum("n_k").cast("long").alias("n"),
        F.sum("s_k").cast("long").alias("tot"),
        F.sum(
            F.col("off").cast("decimal(38,0)") * F.col("s_k") + F.col("lrk")
        ).alias("rksum"),
    )
    return s.select(
        F.col("n").alias("n_customers"),
        F.col("tot").alias("total_cents"),
        F.round(
            (2 * F.col("rksum")).cast("double")
            / (F.col("n").cast("double") * F.col("tot"))
            - (F.col("n") + 1).cast("double") / F.col("n"),
            6,
        ).alias("gini"),
    )


@REGISTRY.register(
    "q_promo_revenue_share",
    oracle=f"""
    WITH j AS (SELECT strftime(date_trunc('month', l.l_shipdate), '%Y-%m')
                        AS ship_month,
                      p.p_type,
                      {_REVENUE_CENTS_SQL} AS rev_cents
               FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey)
    SELECT ship_month,
           CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev_cents ELSE 0 END)
                AS BIGINT) AS promo_cents,
           CAST(sum(rev_cents) AS BIGINT) AS total_cents,
           round(100.0 * sum(CASE WHEN p_type = 'PROMO' THEN rev_cents
                             ELSE 0 END)
                 / sum(rev_cents), 6) AS promo_share_pct
    FROM j GROUP BY ship_month""",
    doc="TPC-H Q14 promotion-effect: per ship month, the share of "
    "discounted revenue coming from PROMO-type parts — the "
    "conditional-sum-ratio report (campaign lift, feature share, "
    "error rate) in its canonical relational form. part (SF*2k rows) "
    "broadcasts onto the fact scan, so the only aggregation is one "
    "map-side-combinable (month) rollup of two exact integer-cent "
    "sums; the ratio is computed once per month group from those "
    "integer sums, never per row. At 100 TB the join stays broadcast "
    "(parts are bounded) and the aggregate carries ~84 groups.",
)
def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"]).select(
        F.date_format(F.date_trunc("month", F.col("l_shipdate")), "yyyy-MM").alias(
            "ship_month"
        ),
        "p_type",
        _revenue_cents().alias("rev_cents"),
    )
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", F.col("rev_cents")).otherwise(0)
    )
    return j.groupBy("ship_month").agg(
        promo.cast("long").alias("promo_cents"),
        F.sum("rev_cents").cast("long").alias("total_cents"),
        F.round(F.lit(100.0) * promo / F.sum("rev_cents"), 6).alias(
            "promo_share_pct"
        ),
    )


# --------------------------------------------------------------------------
# round 6: the remaining classic TPC-H shapes the analog set left cold
# (reference parity: the same relational verbs as db_creds-driven batch
# queries in the reference's query notebook — SURVEY §2.4/§3)
# --------------------------------------------------------------------------

RET_START = "1998-01-01"  # Q10 quarter: 1998-Q1 (fixture dates 1995..2001)
RET_END = "1998-04-01"
RET_TOP_N = 20


@REGISTRY.register(
    "q_returned_top_customers",
    oracle=f"""
    WITH rev AS (
      SELECT o.o_custkey,
             CAST(sum({_REVENUE_CENTS_SQL}) AS BIGINT) AS revenue_cents
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_returnflag = 'R'
        AND o.o_orderdate >= TIMESTAMP '{RET_START} 00:00:00'
        AND o.o_orderdate <  TIMESTAMP '{RET_END} 00:00:00'
      GROUP BY o.o_custkey)
    SELECT c.c_custkey, c.c_name, n.n_name, r.revenue_cents
    FROM rev r
    JOIN customer c ON c.c_custkey = r.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    ORDER BY r.revenue_cents DESC, c.c_custkey
    LIMIT {RET_TOP_N}""",
    doc="TPC-H Q10 returned-item report: the top-20 customers by "
    "revenue lost to returns in one quarter. The fact-fact "
    "lineitem⋈orders join carries the returnflag filter pushed to the "
    "lineitem scan and the quarter predicate pushed to the orders "
    "scan, so both shuffle sides are pre-shrunk; per-customer integer "
    "cents aggregate once, then the customer and nation dims attach by "
    "broadcast and the final top-20 is a TakeOrderedAndProject "
    "(bounded driver result, never a global sort of all customers). "
    "revenue DESC + custkey tiebreak makes the cut deterministic.",
)
def q_returned_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(f"{RET_START} 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(f"{RET_END} 00:00:00").cast("timestamp"))
    )
    rev = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_custkey")
        .agg(F.sum(_revenue_cents()).cast("long").alias("revenue_cents"))
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        rev.join(F.broadcast(c), rev["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select("c_custkey", "c_name", "n_name", "revenue_cents")
        .orderBy(F.col("revenue_cents").desc(), F.col("c_custkey").asc())
        .limit(RET_TOP_N)
    )


SMALL_QTY_BRAND = "Brand#23"


@REGISTRY.register(
    "q_small_qty_revenue",
    oracle=f"""
    WITH f AS (
      SELECT l.l_partkey,
             CAST(round(l.l_quantity * 100) AS BIGINT) AS qc,
             CAST(round(l.l_extendedprice * 100) AS BIGINT) AS pc
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_brand = '{SMALL_QTY_BRAND}'),
    w AS (
      SELECT pc, qc,
             CAST(sum(qc) OVER (PARTITION BY l_partkey) AS BIGINT) AS sq,
             CAST(count(*) OVER (PARTITION BY l_partkey) AS BIGINT) AS n
      FROM f)
    SELECT CAST(sum(pc) AS BIGINT) AS total_cents,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(round(sum(pc) / 7.0) AS BIGINT) AS avg_yearly_cents
    FROM w WHERE qc * n * 5 < sq""",
    doc="TPC-H Q17 small-quantity-order revenue: lines of one brand "
    "whose quantity is below 20% of that part's average quantity. The "
    "correlated per-part average is NOT a re-scan self-join: the "
    "brand-filtered fact (part dim broadcast) feeds one "
    "partkey-partitioned window that attaches sum/count in place — "
    "high-cardinality partitions, a handful of rows each, the "
    "canonical window-instead-of-self-join rewrite. The 20% test is "
    "integer-exact (qc*n*5 < sum_qc avoids the float average whose "
    "last-ulp could flip the comparison between engines), and the "
    "final answer is one 3-column global aggregate.",
)
def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == SMALL_QTY_BRAND)
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem")
    f = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"]).select(
        "l_partkey",
        F.round(F.col("l_quantity") * 100).cast("long").alias("qc"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("pc"),
    )
    w = Window.partitionBy("l_partkey")
    fr = f.select(
        "pc",
        "qc",
        F.sum("qc").over(w).cast("long").alias("sq"),
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
    )
    sel = fr.filter(F.col("qc") * F.col("n") * 5 < F.col("sq"))
    return sel.agg(
        F.sum("pc").cast("long").alias("total_cents"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.round(F.sum("pc") / 7.0).cast("long").alias("avg_yearly_cents"),
    )


#: Q19's OR-of-ANDs — three (brand, size-range, quantity-range) arms.
DISJ_ARMS = (
    ("Brand#12", 1, 5, 1, 11),
    ("Brand#23", 1, 10, 10, 20),
    ("Brand#34", 1, 15, 20, 30),
)


def _disj_sql() -> str:
    return " OR ".join(
        f"(p.p_brand = '{b}' AND p.p_size BETWEEN {s0} AND {s1}"
        f" AND l.l_quantity BETWEEN {q0} AND {q1})"
        for b, s0, s1, q0, q1 in DISJ_ARMS
    )


@REGISTRY.register(
    "q_disjunctive_brand_revenue",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum({_REVENUE_CENTS_SQL}) AS BIGINT) AS revenue_cents
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE {_disj_sql()}""",
    doc="TPC-H Q19 disjunctive predicate revenue: an OR of three "
    "(brand AND size-range AND quantity-range) conjunctions spanning "
    "both join sides. The part dim broadcasts; Catalyst keeps the "
    "whole disjunction as one post-join filter inside the codegen'd "
    "stage AND derives the implied single-side envelopes (the "
    "quantity hull 1..30 prunes lineitem at the scan, the brand/size "
    "hull prunes part before broadcast) — the classic constraint- "
    "propagation test a hand-scheduled engine has to special-case. "
    "Result is one integer-cent row; zero-match SFs still hash "
    "identically because count(*) anchors the row.",
)
def q_disjunctive_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    arms = None
    for b, s0, s1, q0, q1 in DISJ_ARMS:
        arm = (
            (F.col("p_brand") == b)
            & F.col("p_size").between(s0, s1)
            & F.col("l_quantity").between(q0, q1)
        )
        arms = arm if arms is None else (arms | arm)
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .filter(arms)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(_revenue_cents()).cast("long").alias("revenue_cents"),
        )
    )


HIGH_PRIORITIES = ("1-URGENT", "2-HIGH")


@REGISTRY.register(
    "q_ship_latency_priority",
    oracle=f"""
    SELECT CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 30
                THEN 'fast'
                WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 90
                THEN 'normal' ELSE 'slow' END AS ship_bucket,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1""",
    doc="TPC-H Q12 shipping-priority report, restated on ship latency "
    "(the fixture carries no shipmode): per latency bucket "
    "(fast ≤30 d, normal ≤90 d, slow), how many lineitems belonged to "
    "high- vs low-priority orders. The orders⋈lineitem key join "
    "shuffles both sides once on orderkey; both CASE counts ride the "
    "SAME conditional aggregate (one pass, map-side partial combine "
    "into 3 groups), the Q12 pattern that turns a 'pivot' into two "
    "columns of one GROUP BY. Day arithmetic is exact integer "
    "date_diff on midnight timestamps — no float, no TZ dependence "
    "(both engines pinned UTC).",
)
def q_ship_latency_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("lat_days"),
        F.col("o_orderpriority").isin(*HIGH_PRIORITIES).alias("is_high"),
    )
    bucket = (
        F.when(F.col("lat_days") <= 30, "fast")
        .when(F.col("lat_days") <= 90, "normal")
        .otherwise("slow")
    )
    return (
        j.groupBy(bucket.alias("ship_bucket"))
        .agg(
            F.sum(F.when(F.col("is_high"), 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(F.col("is_high"), 0).otherwise(1))
            .cast("long")
            .alias("low_line_count"),
        )
    )


WAIT_DAYS = 90  # "late" = shipped more than 90 days after the order date
WAIT_TOP_N = 20


@REGISTRY.register(
    "q_waiting_suppliers",
    oracle=f"""
    WITH oa AS (
      SELECT l.l_orderkey,
             count(DISTINCT l.l_suppkey) AS n_supp,
             count(DISTINCT CASE WHEN l.l_shipdate >
                                      o.o_orderdate + INTERVAL {WAIT_DAYS} DAY
                                 THEN l.l_suppkey END) AS n_late,
             max(CASE WHEN l.l_shipdate >
                           o.o_orderdate + INTERVAL {WAIT_DAYS} DAY
                      THEN l.l_suppkey END) AS late_supp
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
      GROUP BY l.l_orderkey),
    wt AS (SELECT late_supp, CAST(count(*) AS BIGINT) AS numwait
           FROM oa WHERE n_supp >= 2 AND n_late = 1
           GROUP BY late_supp)
    SELECT s.s_suppkey, s.s_name, wt.numwait
    FROM wt JOIN supplier s ON s.s_suppkey = wt.late_supp
    ORDER BY wt.numwait DESC, s.s_suppkey
    LIMIT {WAIT_TOP_N}""",
    doc="TPC-H Q21 suppliers-who-kept-orders-waiting: on finished "
    "multi-supplier orders, the supplier who was the ONLY late one "
    "(shipped >90 d after the order date), counted and top-20'd. The "
    "spec's doubly-correlated EXISTS / NOT EXISTS collapses into ONE "
    "per-order aggregate — count(DISTINCT supp), count(DISTINCT "
    "late supp), and (because exactly-one is enforced by the filter) "
    "max(late supp) recovers WHICH supplier — so the plan is one "
    "orderkey-shuffled join + aggregate instead of three correlated "
    "fact scans; the supplier dim broadcasts onto the small per-"
    "supplier rollup and the top-20 is TakeOrderedAndProject with a "
    "suppkey tiebreak.",
)
def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {WAIT_DAYS} DAYS"
    )
    oa = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late"),
            F.max(F.when(late, F.col("l_suppkey"))).alias("late_supp"),
        )
    )
    wt = (
        oa.filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .groupBy("late_supp")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        wt.join(F.broadcast(s), wt["late_supp"] == s["s_suppkey"])
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.col("numwait").desc(), F.col("s_suppkey").asc())
        .limit(WAIT_TOP_N)
    )


BASKET_MIN_SUPPORT = 25  # a brand pair must co-occur in >= 25 orders
BASKET_TOP_N = 20


@REGISTRY.register(
    "q_basket_lift_pairs",
    oracle=f"""
    WITH b AS (
      SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    nb AS (SELECT brand, CAST(count(*) AS BIGINT) AS n_brand
           FROM b GROUP BY brand),
    nt AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM b),
    pr AS (
      SELECT x.brand AS brand_a, y.brand AS brand_b,
             CAST(count(*) AS BIGINT) AS n_both
      FROM b x JOIN b y ON x.ok = y.ok AND x.brand < y.brand
      GROUP BY 1, 2)
    SELECT pr.brand_a, pr.brand_b, pr.n_both,
           CAST(round(CAST(pr.n_both AS DOUBLE) * nt.n_orders * 1000000.0
                      / (na.n_brand * nc.n_brand)) AS BIGINT) AS lift_micro
    FROM pr
    JOIN nb na ON na.brand = pr.brand_a
    JOIN nb nc ON nc.brand = pr.brand_b
    CROSS JOIN nt
    WHERE pr.n_both >= {BASKET_MIN_SUPPORT}
    ORDER BY lift_micro DESC, brand_a ASC, brand_b ASC
    LIMIT {BASKET_TOP_N}""",
    doc="MARKET-BASKET association mining over order contents: the "
    "top-20 brand pairs by LIFT (observed co-occurrence over the "
    "independence expectation) among pairs passing a minimum support — "
    "the a-priori association-rule shape restated as two joins and "
    "three aggregates. The basket frame (order, brand) dedups once; "
    "the pair generator is a SELF-JOIN CO-PARTITIONED ON ORDERKEY, so "
    "its fan-out is bounded by each order's distinct-brand count "
    "squared (baskets are small by construction — this is the "
    "transaction-local explosion every basket miner pays), never a "
    "cross join of the brand vocabulary. The per-brand margins (25 "
    "rows) and the 1-row basket total broadcast onto the bounded pair "
    "frame; lift is one double expression per surviving pair "
    "(micro-scaled, deterministic — no cross-row double sums) and the "
    "final cut is a TakeOrderedAndProject with lexicographic "
    "tiebreaks. The support threshold prunes BEFORE the dim joins, the "
    "same frequent-itemset pruning a-priori formalizes.",
)
def q_basket_lift_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    b = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    nb = b.groupBy("brand").agg(F.count(F.lit(1)).cast("long").alias("n_brand"))
    nt = b.agg(F.countDistinct("ok").cast("long").alias("n_orders"))
    x = b.alias("x")
    y = b.alias("y")
    pr = (
        x.join(
            y,
            (F.col("x.ok") == F.col("y.ok")) & (F.col("x.brand") < F.col("y.brand")),
        )
        .groupBy(
            F.col("x.brand").alias("brand_a"), F.col("y.brand").alias("brand_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
        .filter(F.col("n_both") >= BASKET_MIN_SUPPORT)
    )
    na = nb.select(F.col("brand").alias("brand_a"), F.col("n_brand").alias("na"))
    nc = nb.select(F.col("brand").alias("brand_b"), F.col("n_brand").alias("nc"))
    return (
        pr.join(F.broadcast(na), "brand_a")
        .join(F.broadcast(nc), "brand_b")
        .crossJoin(F.broadcast(nt))
        .select(
            "brand_a",
            "brand_b",
            "n_both",
            F.round(
                F.col("n_both").cast("double")
                * F.col("n_orders")
                * F.lit(1000000.0)
                / (F.col("na") * F.col("nc"))
            )
            .cast("long")
            .alias("lift_micro"),
        )
        .orderBy(
            F.col("lift_micro").desc(), F.col("brand_a").asc(), F.col("brand_b").asc()
        )
        .limit(BASKET_TOP_N)
    )


MKT_REGION = "ASIA"
MKT_NATION = "NATION_3"


@REGISTRY.register(
    "q_nation_market_share",
    oracle=f"""
    WITH mkt AS (
      SELECT o.o_orderkey, CAST(year(o.o_orderdate) AS BIGINT) AS o_year
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = '{MKT_REGION}'),
    rev AS (
      SELECT m.o_year,
             CAST(sum(CASE WHEN sn.n_name = '{MKT_NATION}'
                           THEN {_REVENUE_CENTS_SQL} ELSE 0 END) AS BIGINT)
               AS nation_cents,
             CAST(sum({_REVENUE_CENTS_SQL}) AS BIGINT) AS total_cents
      FROM lineitem l
      JOIN mkt m ON m.o_orderkey = l.l_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation sn ON sn.n_nationkey = s.s_nationkey
      GROUP BY m.o_year)
    SELECT o_year, nation_cents, total_cents,
           round(CAST(nation_cents AS DOUBLE) / total_cents, 6) AS mkt_share
    FROM rev""",
    doc="TPC-H Q8 national market share: within one region's market "
    "(orders placed by that region's customers), the yearly revenue "
    "share supplied by one nation. The canonical conditional-share "
    "shape: BOTH the national numerator and the market denominator "
    "ride ONE aggregate pass as a CASE'd sum and an unconditional sum "
    "— never two scans diffed. Join geometry: the 25-row nation and "
    "filtered region dims broadcast unconditionally; the market-"
    "customer list and the supplier->nation map are LEFT TO AQE "
    "(broadcast at fixture scale, shuffle at 10^9 customers/suppliers "
    "where a forced broadcast would OOM the executors); the orderkey "
    "join against lineitem is the single fact-fact shuffle either "
    "way. Revenue sums are "
    "integer cents; the share is one double division per output year "
    "rounded to 6 dp.",
)
def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation")
    r = (
        _t(spark, sf_dir, "region")
        .filter(F.col("r_name") == MKT_REGION)
        .select("r_regionkey")
    )
    mkt_cust = c.join(
        F.broadcast(
            n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]).select(
                "n_nationkey"
            )
        ),
        c["c_nationkey"] == F.col("n_nationkey"),
    ).select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    mkt = o.join(mkt_cust, o["o_custkey"] == mkt_cust["c_custkey"]).select(
        "o_orderkey", F.year("o_orderdate").cast("long").alias("o_year")
    )
    supp_nation = (
        _t(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    rev = (
        li.join(mkt, li["l_orderkey"] == mkt["o_orderkey"])
        .join(supp_nation, li["l_suppkey"] == supp_nation["s_suppkey"])
        .groupBy("o_year")
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == MKT_NATION, _revenue_cents()).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("nation_cents"),
            F.sum(_revenue_cents()).cast("long").alias("total_cents"),
        )
    )
    return rev.select(
        "o_year",
        "nation_cents",
        "total_cents",
        F.round(F.col("nation_cents").cast("double") / F.col("total_cents"), 6).alias(
            "mkt_share"
        ),
    )


@REGISTRY.register(
    "orders_cohort_ltv",
    oracle="""
    WITH o AS (
      SELECT o_custkey,
             CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
               AS month_idx,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    oc AS (SELECT *, CAST(min(month_idx) OVER (PARTITION BY o_custkey)
                          AS BIGINT) AS cohort_idx
           FROM o),
    g AS (
      SELECT cohort_idx, month_idx - cohort_idx AS age_months,
             CAST(sum(cents) AS BIGINT) AS rev_cents,
             CAST(count(DISTINCT o_custkey) AS BIGINT) AS nc
      FROM oc GROUP BY 1, 2),
    cum AS (
      SELECT cohort_idx, age_months, rev_cents,
             CAST(sum(rev_cents) OVER (PARTITION BY cohort_idx
                                       ORDER BY age_months) AS BIGINT)
               AS cum_rev_cents,
             CAST(max(CASE WHEN age_months = 0 THEN nc END)
                  OVER (PARTITION BY cohort_idx) AS BIGINT) AS n_customers
      FROM g)
    SELECT printf('%04d-%02d', cohort_idx // 12, cohort_idx % 12 + 1)
             AS cohort_month,
           CAST(age_months AS BIGINT) AS age_months,
           n_customers, rev_cents, cum_rev_cents,
           CAST(round(CAST(cum_rev_cents AS DOUBLE) / n_customers)
                AS BIGINT) AS ltv_cents_per_customer
    FROM cum""",
    doc="COHORT LTV CURVE: customers grouped by first-order month, "
    "revenue accumulated by cohort age — the lifetime-value grid "
    "(cohort x age, cumulative spend per customer) that pricing and "
    "acquisition-spend decisions read, and the money twin of "
    "ev_retention_cohorts' count grid. Months run as INTEGER month "
    "indexes (year*12+month-1 — no interval/date-diff semantics to "
    "disagree on) and revenue as integer cents; the cumulative sum is "
    "a window over the bounded cohort x age grid (<=  months^2 rows), "
    "and per-customer LTV is one rounded division per grid cell. "
    "Scale shape: ONE orders scan — the first-order month attaches as "
    "a custkey window (a join back to a min-aggregate branch would "
    "rescan the fact; measured 3 scans vs 1), one more shuffle "
    "aggregates the grid, and cohort sizes come from the grid's own "
    "age-0 cells (every customer's first order IS age 0) via a window "
    "over the bounded grid.",
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("long")
        .alias("month_idx"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    oc = o.select(
        "o_custkey",
        "month_idx",
        "cents",
        F.min("month_idx")
        .over(Window.partitionBy("o_custkey"))
        .cast("long")
        .alias("cohort_idx"),
    )
    g = oc.groupBy(
        "cohort_idx",
        (F.col("month_idx") - F.col("cohort_idx")).alias("age_months"),
    ).agg(
        F.sum("cents").cast("long").alias("rev_cents"),
        F.countDistinct("o_custkey").cast("long").alias("nc"),
    )
    wc = Window.partitionBy("cohort_idx").orderBy("age_months")
    wp = Window.partitionBy("cohort_idx")
    cum = g.select(
        "cohort_idx",
        "age_months",
        "rev_cents",
        F.sum("rev_cents").over(wc).cast("long").alias("cum_rev_cents"),
        F.max(F.when(F.col("age_months") == 0, F.col("nc")))
        .over(wp)
        .cast("long")
        .alias("n_customers"),
    )
    return cum.select(
        F.format_string(
            "%04d-%02d",
            (F.col("cohort_idx") / 12).cast("long"),
            (F.col("cohort_idx") % 12 + 1).cast("long"),
        ).alias("cohort_month"),
        F.col("age_months").cast("long").alias("age_months"),
        "n_customers",
        "rev_cents",
        "cum_rev_cents",
        F.round(F.col("cum_rev_cents").cast("double") / F.col("n_customers"))
        .cast("long")
        .alias("ltv_cents_per_customer"),
    )


Q3_CUTOFF = "1998-07-01"
Q3_SEGMENT = "BUILDING"
Q3_TOP_N = 10


@REGISTRY.register(
    "q_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           CAST(sum({_REVENUE_CENTS_SQL}) AS BIGINT) AS revenue_cents,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = '{Q3_SEGMENT}'
      AND o.o_orderdate < TIMESTAMP '{Q3_CUTOFF} 00:00:00'
      AND l.l_shipdate > TIMESTAMP '{Q3_CUTOFF} 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue_cents DESC, l.l_orderkey ASC
    LIMIT {Q3_TOP_N}""",
    doc="TPC-H Q3 shipping priority: the top-10 UNSHIPPED orders (one "
    "segment's orders placed before the cutoff with lineitems still "
    "shipping after it) by outstanding revenue — the order-book "
    "triage query. Both date predicates and the segment filter push "
    "to their respective scans BEFORE the joins, so the orderkey "
    "fact-fact shuffle carries only the straddling window; the "
    "segment-filtered customer key set joins the orders side (AQE "
    "picks broadcast vs shuffle from its runtime size — at 10^9 "
    "customers a forced broadcast would OOM), revenue aggregates as "
    "integer cents per order, and the top-10 is a "
    "TakeOrderedAndProject with an orderkey tiebreak. Dates emit as "
    "formatted strings (engine-portable hashing).",
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit(f"{Q3_CUTOFF} 00:00:00").cast("timestamp")
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == Q3_SEGMENT)
        .select("c_custkey")
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(_revenue_cents()).cast("long").alias("revenue_cents"))
        .select(
            "l_orderkey",
            "revenue_cents",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        )
        .orderBy(F.col("revenue_cents").desc(), F.col("l_orderkey").asc())
        .limit(Q3_TOP_N)
    )


Q5_REGION = "EUROPE"


@REGISTRY.register(
    "q_local_supplier_revenue",
    oracle=f"""
    SELECT n.n_name,
           CAST(sum({_REVENUE_CENTS_SQL}) AS BIGINT) AS revenue_cents
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = '{Q5_REGION}'
      AND s.s_nationkey = c.c_nationkey
    GROUP BY n.n_name
    ORDER BY revenue_cents DESC, n.n_name ASC""",
    doc="TPC-H Q5 local supplier volume: per nation in one region, "
    "revenue on orders where the SUPPLIER SITS IN THE CUSTOMER'S OWN "
    "NATION — the domestic-fulfillment report whose defining feature "
    "is the non-key equality s_nationkey = c_nationkey SPANNING two "
    "dimension arms of the join tree (the constraint a hand-built "
    "engine has to thread through manually; Catalyst just conjoins it "
    "onto the join output). Join geometry: region filter prunes "
    "nation before anything (25→5 rows, broadcast), the orderkey "
    "fact-fact shuffle happens once, customer/supplier attach per "
    "AQE, and the locality filter runs inside the codegen'd stage. "
    "Integer-cents aggregate over ≤|nations| groups with a name "
    "tiebreak.",
)
def q_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _t(spark, sf_dir, "nation")
    r = (
        _t(spark, sf_dir, "region")
        .filter(F.col("r_name") == Q5_REGION)
        .select("r_regionkey")
    )
    rn = n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]).select(
        "n_nationkey", "n_name"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(rn), c["c_nationkey"] == rn["n_nationkey"])
        .filter(F.col("s_nationkey") == F.col("c_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(_revenue_cents()).cast("long").alias("revenue_cents"))
        .orderBy(F.col("revenue_cents").desc(), F.col("n_name").asc())
    )


Q6_YEAR = 1997
Q6_DISC_LO = 0.05
Q6_DISC_HI = 0.07
Q6_QTY_MAX = 24


@REGISTRY.register(
    "q_forecast_revenue_change",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(round(l_extendedprice * l_discount * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_increase_cents
    FROM lineitem
    WHERE year(l_shipdate) = {Q6_YEAR}
      AND round(l_discount, 2) BETWEEN {Q6_DISC_LO} AND {Q6_DISC_HI}
      AND l_quantity < {Q6_QTY_MAX}""",
    doc="TPC-H Q6 forecast revenue change: the revenue that would have "
    "been gained by eliminating small discounts on low-quantity lines "
    "in one year — the simplest TPC-H query and the purest PUSHDOWN "
    "test: a single lineitem scan with every predicate eligible for "
    "the parquet reader (year bound as a shipdate range, discount "
    "band, quantity cap — plan-asserted in PushedFilters) and one "
    "2-column global aggregate, no join, no shuffle beyond the final "
    "1-row combine. Per-line revenue quantizes to integer cents "
    "BEFORE the sum; the discount band compares on round(d, 2) in "
    "both engines so a stored 0.0699999 cannot straddle the fence "
    "differently.",
)
def q_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.year("l_shipdate") == Q6_YEAR)
            & F.round(F.col("l_discount"), 2).between(Q6_DISC_LO, Q6_DISC_HI)
            & (F.col("l_quantity") < Q6_QTY_MAX)
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(
                F.round(F.col("l_extendedprice") * F.col("l_discount") * 100).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("revenue_increase_cents"),
        )
    )


# --------------------------------------------------------------------------
# round-7: the five classic TPC-H shapes still absent — Q2, Q7, Q9,
# Q16, Q20. The fixture set has no partsupp table, so the three queries
# that need one (Q2/Q9/Q20) derive it from the fact: per
# (l_partkey, l_suppkey) the minimum observed unit price is the
# supply-cost, and total shipped quantity stands in for availqty. The
# JOIN GEOMETRY each query exists to exercise — correlated-min
# decorrelation, the two-nation cross pair, LIKE-filtered profit
# rollup, NOT-IN + count(distinct), the nested semi-join chain — is
# unchanged; only the cost/availability source differs, and it is the
# same derivation in both engines so the oracle stays exact.
# --------------------------------------------------------------------------

#: derived partsupp: exact integer min unit-price cents per
#: (part, supplier) pair — both engines compute the identical IEEE
#: division before the round, and min over exact bigints is order-free
_PS_COST_SQL = """
    ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                  CAST(min(CAST(round(l_extendedprice / l_quantity * 100)
                                AS BIGINT)) AS BIGINT) AS cost_cents
           FROM lineitem GROUP BY 1, 2)"""


def _ps_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark twin of _PS_COST_SQL: the derived partsupp relation.
    One fact scan, one map-side-combinable min on the (part, supplier)
    composite key — at 100 TB this materializes once per load (it IS
    the partsupp table a real warehouse would maintain) and every
    consumer joins the ~|part|x|supp-per-part| result, never the
    fact."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .agg(
            F.min(
                F.round(F.col("l_extendedprice") / F.col("l_quantity") * 100).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("cost_cents")
        )
    )


Q2_REGION = "EUROPE"
Q2_TYPE = "STANDARD"
Q2_TOP_N = 100


@REGISTRY.register(
    "q_min_cost_supplier",
    oracle=f"""
    WITH {_PS_COST_SQL},
    rsupp AS (SELECT s.s_suppkey, s.s_name,
                     CAST(round(s.s_acctbal * 100) AS BIGINT) AS acctbal_cents,
                     n.n_name
              FROM supplier s
              JOIN nation n ON n.n_nationkey = s.s_nationkey
              JOIN region r ON r.r_regionkey = n.n_regionkey
              WHERE r.r_name = '{Q2_REGION}'),
    cand AS (SELECT p.p_partkey, p.p_name, ps.ps_suppkey, ps.cost_cents
             FROM part p JOIN ps ON ps.ps_partkey = p.p_partkey
             WHERE p.p_type = '{Q2_TYPE}'),
    best AS (SELECT c.p_partkey, CAST(min(c.cost_cents) AS BIGINT) AS min_cents
             FROM cand c JOIN rsupp s ON s.s_suppkey = c.ps_suppkey
             GROUP BY c.p_partkey)
    SELECT s.acctbal_cents, s.s_name, s.n_name,
           c.p_partkey, c.p_name, c.cost_cents
    FROM cand c
    JOIN rsupp s ON s.s_suppkey = c.ps_suppkey
    JOIN best b ON b.p_partkey = c.p_partkey AND c.cost_cents = b.min_cents
    ORDER BY s.acctbal_cents DESC, s.n_name ASC, s.s_name ASC,
             c.p_partkey ASC
    LIMIT {Q2_TOP_N}""",
    doc="TPC-H Q2 minimum-cost supplier: for every STANDARD-type part, "
    "the European supplier(s) offering it at the region-wide minimum "
    "supply cost, top-100 by account balance. THE decorrelation "
    "benchmark — the spec's correlated `= (SELECT min(ps_supplycost) "
    "...)` subquery over a 4-relation chain, expressed as Catalyst "
    "wants it: a per-part min aggregate over the region-filtered "
    "candidates joined back on (part, exact-cents equality). Supply "
    "cost derives from the fact (no partsupp in the fixture set): min "
    "unit-price cents per (part, supplier) — identical IEEE division "
    "then integer min in both engines. Scale shape: supplier->nation->"
    "region chain collapses to a broadcast (SF*100 rows); the derived "
    "ps aggregates the fact once map-side-combinably; the min-and-"
    "join-back touches only the ~|part| candidate frame; final order "
    "is a TakeOrderedAndProject top-100, never a global sort.",
)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _t(spark, sf_dir, "nation")
    r = (
        _t(spark, sf_dir, "region")
        .filter(F.col("r_name") == Q2_REGION)
        .select("r_regionkey")
    )
    rsupp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("s_acctbal") * 100).cast("long").alias("acctbal_cents"),
            "n_name",
        )
    )
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == Q2_TYPE)
        .select("p_partkey", "p_name")
    )
    cand = (
        _ps_cost(spark, sf_dir)
        .join(F.broadcast(part), F.col("ps_partkey") == F.col("p_partkey"))
        .select("p_partkey", "p_name", "ps_suppkey", "cost_cents")
    )
    scored = cand.join(
        F.broadcast(rsupp), F.col("ps_suppkey") == F.col("s_suppkey")
    )
    best = scored.groupBy(F.col("p_partkey").alias("b_partkey")).agg(
        F.min("cost_cents").cast("long").alias("min_cents")
    )
    return (
        scored.join(
            best,
            (F.col("p_partkey") == F.col("b_partkey"))
            & (F.col("cost_cents") == F.col("min_cents")),
        )
        .select(
            "acctbal_cents", "s_name", "n_name", "p_partkey", "p_name", "cost_cents"
        )
        .orderBy(
            F.col("acctbal_cents").desc(),
            F.col("n_name").asc(),
            F.col("s_name").asc(),
            F.col("p_partkey").asc(),
        )
        .limit(Q2_TOP_N)
    )


Q7_NATION_A = "NATION_1"
Q7_NATION_B = "NATION_2"
Q7_YEARS = (1998, 1999)


@REGISTRY.register(
    "q_volume_shipping",
    oracle=f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           CAST(sum({_REVENUE_CENTS_SQL}) AS BIGINT) AS revenue_cents
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    WHERE ((sn.n_name = '{Q7_NATION_A}' AND cn.n_name = '{Q7_NATION_B}')
        OR (sn.n_name = '{Q7_NATION_B}' AND cn.n_name = '{Q7_NATION_A}'))
      AND year(l.l_shipdate) IN ({Q7_YEARS[0]}, {Q7_YEARS[1]})
    GROUP BY 1, 2, 3""",
    doc="TPC-H Q7 volume shipping: bilateral trade between two nations "
    "— revenue where the SUPPLIER sits in one and the CUSTOMER in the "
    "other, split by direction and ship year. The shape Q7 exists for "
    "is the CROSS-PAIR disjunction over two aliases of the same "
    "dimension (nation joins in twice, once per side, and the filter "
    "couples them) — a plan that collapses to nothing if the optimizer "
    "pushes either nation predicate alone. Scale shape: both nation "
    "sides and supplier broadcast; orders->customer attaches the cust "
    "nation to the fact's orderkey side; the disjunctive pair filter "
    "runs before the 2x2xyears aggregate, whose partial sums combine "
    "map-side. Revenue is exact integer cents.",
)
def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cust = (
        _t(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
        .filter(F.col("cust_nation").isin(Q7_NATION_A, Q7_NATION_B))
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
        .filter(F.col("supp_nation").isin(Q7_NATION_A, Q7_NATION_B))
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate").isin(*Q7_YEARS)
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(
            (
                (F.col("supp_nation") == Q7_NATION_A)
                & (F.col("cust_nation") == Q7_NATION_B)
            )
            | (
                (F.col("supp_nation") == Q7_NATION_B)
                & (F.col("cust_nation") == Q7_NATION_A)
            )
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.sum(_revenue_cents()).cast("long").alias("revenue_cents"))
    )


Q9_NAME_TOKEN = "bolt"


@REGISTRY.register(
    "q_product_type_profit",
    oracle=f"""
    WITH {_PS_COST_SQL}
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           CAST(sum({_REVENUE_CENTS_SQL}
                    - CAST(round(l_quantity) AS BIGINT) * ps.cost_cents)
                AS BIGINT) AS profit_cents
    FROM lineitem l
    JOIN ps ON ps.ps_partkey = l.l_partkey AND ps.ps_suppkey = l.l_suppkey
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%{Q9_NAME_TOKEN}%'
    GROUP BY 1, 2""",
    doc="TPC-H Q9 product-type profit: for every part whose name "
    "contains the token, profit (discounted revenue minus quantity x "
    "supply cost) by supplier nation and order year — the widest join "
    "tree in the suite (fact + 5 relations) crossed with a non-"
    "sargable LIKE '%token%' on the part dimension. Supply cost is "
    "the derived per-(part, supplier) min unit-price cents (no "
    "partsupp in the fixture set; same derivation both engines), so "
    "profit stays an exact bigint per line and the sum is order-free. "
    "Scale shape: the LIKE filters the SMALL side (part, broadcast) — "
    "never a scan predicate on the fact; supplier/nation/part all "
    "broadcast; the derived ps re-joins the fact on the composite "
    "(part, supp) key — the one genuine shuffle join, exactly what a "
    "materialized partsupp would cost; orders attaches the year by "
    "orderkey. One final hash aggregate on (nation, year).",
)
def q_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like(f"%{Q9_NAME_TOKEN}%"))
        .select("p_partkey")
    )
    supp_nat = (
        _t(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("long").alias("o_year")
    )
    li = _t(spark, sf_dir, "lineitem")
    profit_cents = _revenue_cents() - F.round(F.col("l_quantity")).cast(
        "long"
    ) * F.col("cost_cents")
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(
            _ps_cost(spark, sf_dir),
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .join(F.broadcast(supp_nat), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation", "o_year")
        .agg(F.sum(profit_cents).cast("long").alias("profit_cents"))
    )


Q16_EXCL_BRAND = "Brand#1"
Q16_EXCL_TYPE_PREFIX = "PROMO"
Q16_SIZES = (1, 4, 9, 14, 19, 23, 36, 45)


@REGISTRY.register(
    "q_supplier_part_counts",
    oracle=f"""
    WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    excl AS (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
           CAST(count(DISTINCT pr.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM pairs pr
    JOIN part p ON p.p_partkey = pr.l_partkey
    WHERE p.p_brand <> '{Q16_EXCL_BRAND}'
      AND p.p_type NOT LIKE '{Q16_EXCL_TYPE_PREFIX}%'
      AND p.p_size IN ({", ".join(str(s) for s in Q16_SIZES)})
      AND pr.l_suppkey NOT IN (SELECT s_suppkey FROM excl)
    GROUP BY 1, 2, 3""",
    doc="TPC-H Q16 supplier-part relationship counts: how many distinct "
    "suppliers can deliver each (brand, type, size) combination, "
    "excluding one brand, one type prefix, and every supplier on the "
    "exclusion list (spec: complaint comments; fixture stand-in: "
    "negative account balance — the supplier table has no comment "
    "column). The shapes this exists for: NOT IN -> null-aware anti "
    "join against a subquery, negated LIKE on a dimension, and "
    "count(DISTINCT) over a many-to-many pair set (distinct "
    "(part, supplier) pairs derive from the fact — the fixture's "
    "partsupp). Scale shape: the pair distinct is one map-side-"
    "combinable aggregate of the fact; part broadcasts with all three "
    "dimension predicates applied; the 6-row exclusion list broadcasts "
    "as an anti join; the distinct-supplier count is one hash "
    "aggregate on the bounded (brand, type, size) grid.",
)
def q_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = (
        _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    )
    part = (
        _t(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != Q16_EXCL_BRAND)
            & ~F.col("p_type").like(f"{Q16_EXCL_TYPE_PREFIX}%")
            & F.col("p_size").isin(*Q16_SIZES)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    excl = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        pairs.join(F.broadcast(part), pairs["l_partkey"] == part["p_partkey"])
        .join(
            F.broadcast(excl),
            pairs["l_suppkey"] == excl["s_suppkey"],
            "left_anti",
        )
        .groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


Q20_NAME_PREFIX = "red"
Q20_YEAR = 1998
Q20_NATION = "NATION_3"


@REGISTRY.register(
    "q_excess_stock_suppliers",
    oracle=f"""
    WITH tp AS (SELECT p_partkey FROM part
                WHERE p_name LIKE '{Q20_NAME_PREFIX}%'),
    avail AS (SELECT l_partkey, l_suppkey,
                     CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
                       AS total_qty,
                     CAST(sum(CASE WHEN year(l_shipdate) = {Q20_YEAR}
                                   THEN CAST(round(l_quantity) AS BIGINT)
                                   ELSE 0 END) AS BIGINT) AS year_qty
              FROM lineitem
              WHERE l_partkey IN (SELECT p_partkey FROM tp)
              GROUP BY 1, 2),
    qual AS (SELECT DISTINCT l_suppkey FROM avail
             WHERE total_qty > 2 * year_qty)
    SELECT s.s_name, CAST(round(s.s_acctbal * 100) AS BIGINT) AS acctbal_cents
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name = '{Q20_NATION}'
      AND s.s_suppkey IN (SELECT l_suppkey FROM qual)""",
    doc="TPC-H Q20 excess-stock suppliers: suppliers in one nation "
    "whose stock of token-named parts exceeds a threshold tied to one "
    "year's shipments — the spec's NESTED SEMI-JOIN CHAIN (supplier IN "
    "(pairs over parts IN (name filter)) with a correlated quantity "
    "aggregate), decorrelated the way Catalyst wants: the per-(part, "
    "supplier) quantity aggregate computes total and in-year sums in "
    "ONE pass (a conditional sum, not a correlated scalar subquery "
    "re-scanning the fact per pair), the threshold filter runs on "
    "that bounded frame, and the supplier list reaches the dimension "
    "as a LEFT SEMI join. Availability proxies as all-time shipped "
    "quantity (no partsupp.availqty in the fixture set; condition "
    "total > 2 x year-qty keeps the spec's availqty > half-of-year "
    "geometry). Scale shape: the part name filter broadcasts into the "
    "fact scan as a semi join; one composite-key aggregate; the "
    "qualifying-supplier set (<= SF*100 rows) broadcasts back as a "
    "semi join on the supplier dim.",
)
def q_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    tp = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like(f"{Q20_NAME_PREFIX}%"))
        .select("p_partkey")
    )
    qty = F.round(F.col("l_quantity")).cast("long")
    avail = (
        _t(spark, sf_dir, "lineitem")
        .join(F.broadcast(tp), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(qty).cast("long").alias("total_qty"),
            F.sum(F.when(F.year("l_shipdate") == Q20_YEAR, qty).otherwise(0))
            .cast("long")
            .alias("year_qty"),
        )
    )
    qual = (
        avail.filter(F.col("total_qty") > 2 * F.col("year_qty"))
        .select("l_suppkey")
        .distinct()
    )
    nat = (
        _t(spark, sf_dir, "nation")
        .filter(F.col("n_name") == Q20_NATION)
        .select("n_nationkey")
    )
    return (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(qual),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .select(
            "s_name",
            F.round(F.col("s_acctbal") * 100).cast("long").alias("acctbal_cents"),
        )
    )


# --------------------------------------------------------------------------
# survival analysis: Kaplan-Meier repeat-purchase curve
# --------------------------------------------------------------------------

@REGISTRY.register(
    "orders_survival_km",
    oracle="""
    WITH ranked AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
                           row_number() OVER (PARTITION BY o_custkey
                               ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
                             AS rn
                    FROM orders),
    per_cust AS (SELECT o_custkey,
                        min(CASE WHEN rn = 1 THEN d END) AS d1,
                        min(CASE WHEN rn = 2 THEN d END) AS d2
                 FROM ranked WHERE rn <= 2 GROUP BY o_custkey),
    mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS dmax FROM orders),
    subj AS (SELECT CAST(CASE WHEN d2 IS NOT NULL
                              THEN datediff('day', d1, d2)
                              ELSE datediff('day', d1, mx.dmax) END AS BIGINT)
                      AS t,
                    CASE WHEN d2 IS NOT NULL THEN 1 ELSE 0 END AS ev
             FROM per_cust CROSS JOIN mx),
    risk AS (SELECT t, CAST(sum(ev) AS BIGINT) AS d,
                    CAST(count(*) AS BIGINT) AS total_t
             FROM subj GROUP BY t),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_subj FROM subj),
    at_risk AS (SELECT r.t, r.d,
                       tot.n_subj
                         - CAST(coalesce(sum(r.total_t) OVER (
                             ORDER BY r.t
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                             0) AS BIGINT) AS n
                FROM risk r CROSS JOIN tot),
    terms AS (SELECT t, d, n,
                     CASE WHEN n > d
                          THEN CAST(round(ln((CAST(n AS DOUBLE) - d) / n) * 1e9)
                               AS BIGINT)
                          ELSE NULL END AS nano,
                     CASE WHEN n = d THEN 1 ELSE 0 END AS hits_zero
              FROM at_risk WHERE d > 0),
    curve AS (SELECT t, d, n,
                     sum(nano) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_nano,
                     max(hits_zero) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS zeroed
              FROM terms)
    SELECT t AS t_days, n AS n_at_risk, d AS d_events,
           CASE WHEN zeroed = 1 THEN 0.0
                ELSE round(exp(CAST(cum_nano AS DOUBLE) / 1e9), 6) END
             AS survival
    FROM curve ORDER BY t_days""",
    doc="SURVIVAL ANALYSIS: Kaplan-Meier estimator (1958) of "
    "time-to-repeat-purchase — subjects are customers, the event is "
    "the SECOND order (duration = days from first to second), and "
    "single-order customers are right-CENSORED at the corpus horizon "
    "(max order date) — the churn/retention curve product teams read "
    "before any parametric model, with censoring handled correctly "
    "instead of dropped. Determinism for a running PRODUCT of "
    "ratios: each (1 - d/n) factor becomes a nano-quantized ln term, "
    "the product becomes an EXACT bigint cumulative sum over the "
    "ordered event times, and exp() recovers S(t) rounded to 6 dp — "
    "engines cannot drift through float product order; if a step "
    "consumes everyone at risk (n = d) the curve pins to exactly 0 "
    "from there on (ln is never evaluated at 0). Scale shape: the "
    "first-two-orders window partitions by customer (high "
    "cardinality); subjects collapse to ONE row per distinct "
    "duration (bounded by the calendar span), so the ordered "
    "cumulative windows run on a tiny frame — the documented "
    "single-partition exception class (like the post-limit rank "
    "windows), never over raw rows.",
)
def orders_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").cast("date"), "o_orderkey"
    )
    ranked = orders.select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") <= 2)
    per_cust = ranked.groupBy("o_custkey").agg(
        F.min(F.when(F.col("rn") == 1, F.col("d"))).alias("d1"),
        F.min(F.when(F.col("rn") == 2, F.col("d"))).alias("d2"),
    )
    mx = orders.agg(F.max(F.col("o_orderdate").cast("date")).alias("dmax"))
    subj = per_cust.crossJoin(F.broadcast(mx)).select(
        F.when(
            F.col("d2").isNotNull(), F.datediff(F.col("d2"), F.col("d1"))
        )
        .otherwise(F.datediff(F.col("dmax"), F.col("d1")))
        .cast("long")
        .alias("t"),
        F.when(F.col("d2").isNotNull(), F.lit(1)).otherwise(F.lit(0)).alias("ev"),
    )
    risk = subj.groupBy("t").agg(
        F.sum("ev").cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("total_t"),
    )
    tot = subj.agg(F.count(F.lit(1)).cast("long").alias("n_subj"))
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    at_risk = risk.crossJoin(F.broadcast(tot)).select(
        "t",
        "d",
        (
            F.col("n_subj")
            - F.coalesce(F.sum("total_t").over(w_prev), F.lit(0))
        )
        .cast("long")
        .alias("n"),
    )
    terms = at_risk.filter(F.col("d") > 0).select(
        "t",
        "d",
        "n",
        F.when(
            F.col("n") > F.col("d"),
            F.round(
                F.log((F.col("n").cast("double") - F.col("d")) / F.col("n"))
                * F.lit(1e9)
            ).cast("long"),
        ).alias("nano"),
        F.when(F.col("n") == F.col("d"), F.lit(1)).otherwise(F.lit(0)).alias(
            "hits_zero"
        ),
    )
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    curve = terms.select(
        "t",
        "d",
        "n",
        F.sum("nano").over(w_cum).alias("cum_nano"),
        F.max("hits_zero").over(w_cum).alias("zeroed"),
    )
    return curve.select(
        F.col("t").alias("t_days"),
        F.col("n").alias("n_at_risk"),
        F.col("d").alias("d_events"),
        F.when(F.col("zeroed") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("cum_nano").cast("double") / F.lit(1e9)), 6))
        .alias("survival"),
    ).orderBy("t_days")


RFM_MIGRATION_SPLIT = "1998-05-01"  # midpoint of the 1995-2001 fixture span


@REGISTRY.register(
    "orders_rfm_migration",
    oracle=f"""
    WITH fm AS (SELECT o_custkey,
                       (o_orderdate < TIMESTAMP '{RFM_MIGRATION_SPLIT} 00:00:00')
                         AS h1,
                       CAST(count(*) AS BIGINT) AS f,
                       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                            AS BIGINT) AS m
                FROM orders GROUP BY 1, 2),
    thr AS (SELECT round(quantile_cont(CAST(f AS DOUBLE), 0.5), 6) AS f_med,
                   round(quantile_cont(CAST(m AS DOUBLE), 0.5), 6) AS m_med
            FROM fm WHERE h1),
    seg AS (SELECT o_custkey, h1,
                   CASE WHEN CAST(f AS DOUBLE) > t.f_med
                             AND CAST(m AS DOUBLE) > t.m_med THEN 'high_value'
                        WHEN CAST(f AS DOUBLE) > t.f_med THEN 'frequent_small'
                        WHEN CAST(m AS DOUBLE) > t.m_med THEN 'big_basket'
                        ELSE 'low' END AS segment
            FROM fm CROSS JOIN thr t),
    mig AS (SELECT coalesce(a.o_custkey, b.o_custkey) AS o_custkey,
                   coalesce(a.segment, 'absent') AS seg_from,
                   coalesce(b.segment, 'absent') AS seg_to
            FROM (SELECT * FROM seg WHERE h1) a
            FULL OUTER JOIN (SELECT * FROM seg WHERE NOT h1) b
              USING (o_custkey))
    SELECT seg_from, seg_to, CAST(count(*) AS BIGINT) AS n_customers
    FROM mig GROUP BY 1, 2 ORDER BY 1, 2""",
    doc="CUSTOMER SEGMENT MIGRATION MATRIX: frequency/monetary "
    "quadrants computed per customer in each HALF of the order "
    "history (split at the fixture midpoint), with the quadrant "
    "thresholds FROZEN from the first half and applied to both — so "
    "a cell movement means the CUSTOMER changed, not the yardstick — "
    "then the (from, to) transition counts including 'absent' states "
    "(churned = from-segment → absent; acquired = absent → "
    "to-segment). This is the period-over-period movement report "
    "behind retention planning, the natural sequel to the static "
    "orders_rfm_segments snapshot. Scale shape: ONE conditional "
    "aggregate builds both halves' per-customer facts (no second "
    "orders scan), the 2-value threshold row broadcasts back, the "
    "halves full-outer-join on the customer key, and the matrix is a "
    "bounded 5x5 rollup. Medians honor the exact↔sketch percentile "
    "switch; money is exact integer cents.",
)
def orders_rfm_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.analytics import median_expr

    o = _t(spark, sf_dir, "orders")
    fm = o.groupBy(
        "o_custkey",
        (
            F.col("o_orderdate")
            < F.lit(f"{RFM_MIGRATION_SPLIT} 00:00:00").cast("timestamp")
        ).alias("h1"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("f"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("m"),
    )
    thr = fm.filter(F.col("h1")).agg(
        F.round(median_expr("f"), 6).alias("f_med"),
        F.round(median_expr("m"), 6).alias("m_med"),
    )
    seg = fm.crossJoin(F.broadcast(thr)).select(
        "o_custkey",
        "h1",
        F.when(
            (F.col("f").cast("double") > F.col("f_med"))
            & (F.col("m").cast("double") > F.col("m_med")),
            "high_value",
        )
        .when(F.col("f").cast("double") > F.col("f_med"), "frequent_small")
        .when(F.col("m").cast("double") > F.col("m_med"), "big_basket")
        .otherwise("low")
        .alias("segment"),
    )
    a = seg.filter(F.col("h1")).select("o_custkey", F.col("segment").alias("sa"))
    b = seg.filter(~F.col("h1")).select("o_custkey", F.col("segment").alias("sb"))
    mig = a.join(b, on="o_custkey", how="full_outer").select(
        F.coalesce(F.col("sa"), F.lit("absent")).alias("seg_from"),
        F.coalesce(F.col("sb"), F.lit("absent")).alias("seg_to"),
    )
    return (
        mig.groupBy("seg_from", "seg_to")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
        .orderBy("seg_from", "seg_to")
    )


# --------------------------------------------------------------------------
# Benford first-digit screen on order totals (forensic data-quality gate)
# --------------------------------------------------------------------------

#: log10(1 + 1/d) for d = 1..9 as decimal LITERALS — both engines parse
#: the same string to the same double, so the expectations (and the
#: per-digit chi-square terms quantized from them) are bit-identical;
#: computing log10 at runtime would ride each engine's libm.
_BENFORD_P = (
    "0.3010299956639812",
    "0.1760912590556813",
    "0.1249387366082999",
    "0.0969100130080564",
    "0.0791812460476248",
    "0.0669467896306132",
    "0.0579919469776867",
    "0.0511525224473813",
    "0.0457574905606751",
)
#: CAST to DOUBLE: DuckDB types a bare decimal literal as DECIMAL(38),
#: and the chi-square squaring then overflows decimal multiplication
_BENFORD_VALUES_DUCK = ", ".join(
    f"({d + 1}, CAST({p} AS DOUBLE))" for d, p in enumerate(_BENFORD_P)
)


@REGISTRY.register(
    "orders_benford_screen",
    oracle=f"""
    WITH fd AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100)
                                         AS BIGINT) AS VARCHAR), 1, 1)
                            AS BIGINT) AS digit
                FROM orders),
    obs AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
            FROM fd GROUP BY digit),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM fd),
    exp AS (SELECT * FROM (VALUES {_BENFORD_VALUES_DUCK}) AS t(digit, p)),
    terms AS (SELECT e.digit,
                     CAST(coalesce(o.n_obs, 0) AS BIGINT) AS n_obs,
                     CAST(round(nn.n * e.p * 1000000) AS BIGINT)
                       AS expected_micro,
                     CAST(round((coalesce(o.n_obs, 0) - nn.n * e.p)
                                * (coalesce(o.n_obs, 0) - nn.n * e.p)
                                / (nn.n * e.p) * 1000000) AS BIGINT)
                       AS term_micro
              FROM exp e LEFT JOIN obs o ON o.digit = e.digit CROSS JOIN nn),
    chi AS (SELECT CAST(sum(term_micro) AS BIGINT) AS chi2_micro FROM terms)
    SELECT t.digit, t.n_obs, t.expected_micro, t.term_micro, c.chi2_micro
    FROM terms t CROSS JOIN chi c
    ORDER BY t.digit""",
    doc="BENFORD'S-LAW first-digit screen on order totals — the "
    "forensic data-quality gate auditors run on any money column "
    "(fabricated, capped, or template-generated amounts break the "
    "log-uniform leading-digit law long before summary stats notice): "
    "observed first-digit counts against the Benford expectation "
    "n*log10(1+1/d), with per-digit chi-square contributions and the "
    "9-dof chi-square total. Determinism: the first digit comes from "
    "an exact integer-cents string (no float log10 of the value); the "
    "nine expectations are PRE-COMPUTED decimal literals (runtime "
    "log10 would ride each engine's libm); each chi-square term "
    "quantizes to an integer BEFORE the total, so the sum is "
    "order-free. Scale shape: one narrow scan, a 9-group aggregate, "
    "and a broadcast constants table — output is 9 rows at any "
    "corpus size. NOTE the honest reading: TPC-H-style uniform "
    "synthetic prices are EXPECTED to fail Benford (chi2 >> crit) — "
    "the entry reports the screen, the fixture demonstrates a "
    "failing population, and the pytest pins both the arithmetic and "
    "that the screen fires on this data.",
)
def orders_benford_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    fd = o.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("digit")
    )
    obs = fd.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    nn = fd.agg(F.count(F.lit(1)).cast("long").alias("n"))
    exp = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d + 1).cast("long").alias("digit"),
                        F.lit(float(p)).alias("p"),
                    )
                    for d, p in enumerate(_BENFORD_P)
                ]
            )
        ).alias("e")
    ).select("e.*")
    dev = F.coalesce(F.col("n_obs"), F.lit(0)) - F.col("n") * F.col("p")
    terms = (
        exp.join(obs, on="digit", how="left")
        .crossJoin(F.broadcast(nn))
        .select(
            "digit",
            F.coalesce(F.col("n_obs"), F.lit(0)).cast("long").alias("n_obs"),
            F.round(F.col("n") * F.col("p") * 1000000)
            .cast("long")
            .alias("expected_micro"),
            F.round(dev * dev / (F.col("n") * F.col("p")) * 1000000)
            .cast("long")
            .alias("term_micro"),
        )
    )
    chi = terms.agg(F.sum("term_micro").cast("long").alias("chi2_micro"))
    return (
        terms.crossJoin(F.broadcast(chi))
        .select("digit", "n_obs", "expected_micro", "term_micro", "chi2_micro")
        .orderBy("digit")
    )


# --------------------------------------------------------------------------
# round 9: ranking-function window surface (ntile / percent_rank / cume_dist)
# --------------------------------------------------------------------------


@REGISTRY.register(
    "q_customer_value_deciles",
    oracle="""
    SELECT c_mktsegment, c_custkey,
           CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
           CAST(ntile(10) OVER w AS BIGINT) AS decile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal DESC, c_custkey ASC)
    ORDER BY c_mktsegment, c_custkey""",
    doc="RANKING-FUNCTION window surface — the one classic window "
    "family the registry had not yet exercised end-to-end: per market "
    "segment, customers rank by account balance through ntile(10) "
    "(equi-depth decile assignment — the value-banding primitive "
    "behind every 'top decile' business cut), percent_rank "
    "((rank-1)/(n-1)) and cume_dist (rows ≤ current / n). "
    "Determinism: the window ORDER BY carries the custkey tiebreak, "
    "so ranks are total and all three functions are engine-exact; "
    "monies ride as integer cents. Scale shape: one hash partition "
    "per segment + one sort — the same single-shuffle window plan as "
    "every top-k entry; ntile needs no second pass (Spark computes "
    "bucket boundaries from the partition row count during the "
    "window evaluation).",
)
def q_customer_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        c.select(
            "c_mktsegment",
            "c_custkey",
            F.round(F.col("c_acctbal") * 100).cast("long").alias("acctbal_cents"),
            F.ntile(10).over(w).cast("long").alias("decile"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
        )
        .orderBy("c_mktsegment", "c_custkey")
    )
