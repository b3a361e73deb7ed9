"""§2.1 Relational query core.

Parity target: the reference's relational views — nested query trees
compiled to joins with findOne/findAll semantics (reference:
src/main/etl.js:28-33, 472-491) and typed models (etl.js:143-167).
Expressed as TPC-H-shaped DataFrame plans over the test star schema so
Catalyst handles pushdown/broadcast/AQE; the nested-result operators
live in operators/relational.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cpx_etl_spark.operators.cut import cut
from cpx_etl_spark.operators.relational import (
    anti_join,
    denest,
    enrich,
    nest,
    semi_join,
    unique_view,
)
from cpx_etl_spark.operators.skew import salted_agg
from cpx_etl_spark.queries import davg, dsum, fround, register, sql_davg, sql_dsum, sql_fround
from cpx_etl_spark.sources import load_table, local_frame


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --- scan + filter + aggregate -----------------------------------------------

# Per-row double products (price*(1-disc)*(1+tax)) cast to decimal can
# round differently per engine; instead cast the FACTORS (all exact 2dp
# source values) to decimal and multiply in the decimal domain — exact
# and associative in both engines — then ROUND the exact decimal sum
# (HALF_UP in both) and cast to double last.
_DISC_PRICE_DEC = (
    "CAST(l_extendedprice AS DECIMAL(12,4))"
    " * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(5,4)))"
)
_CHARGE_DEC = f"{_DISC_PRICE_DEC} * (CAST(1 AS DECIMAL(5,4)) + CAST(l_tax AS DECIMAL(5,4)))"


@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           CAST(ROUND(SUM({_DISC_PRICE_DEC}), 2) AS DOUBLE) AS sum_disc_price,
           CAST(ROUND(SUM({_CHARGE_DEC}), 2) AS DOUBLE) AS sum_charge,
           {sql_davg('l_quantity')} AS avg_qty,
           {sql_davg('l_extendedprice')} AS avg_price,
           {sql_davg('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full-scan hash aggregate with map-side partials.

    At 100 TB this is one shuffle of 6 tiny groups — the partial
    aggregation does all the work; AQE coalesces the final stage.
    """
    li = _t(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(5,4)")
    price_d = F.col("l_extendedprice").cast("decimal(12,4)")
    disc_price_dec = price_d * (one - F.col("l_discount").cast("decimal(5,4)"))
    charge_dec = disc_price_dec * (one + F.col("l_tax").cast("decimal(5,4)"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            F.round(F.sum(disc_price_dec), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(charge_dec), 2).cast("double").alias("sum_charge"),
            davg(F.col("l_quantity")).alias("avg_qty"),
            davg(F.col("l_extendedprice")).alias("avg_price"),
            davg(F.col("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective scan: all four predicates push into the parquet reader."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
    )


# --- joins -------------------------------------------------------------------

@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-07-01'
      AND l_shipdate  > TIMESTAMP '1998-07-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact shuffle join + broadcast-able customer filter + top-k.

    orders⋈lineitem shuffles on the order key; the filtered customer
    side broadcasts. Top-k carries l_orderkey as unique tiebreaker so
    the selected set is deterministic.
    """
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-07-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-07-01").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join (EXISTS): left_semi keeps one probe per match, no fanout."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    matched = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return matched.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@register(
    "q5_local_supplier",
    oracle=f"""
    SELECT n_name,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-table join: dims broadcast, facts shuffle once on orderkey."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@register(
    "q_customers_without_orders",
    oracle=f"""
    SELECT c_mktsegment, COUNT(*) AS n_inactive, {sql_davg('c_acctbal')} AS avg_acctbal
    FROM customer
    WHERE NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-07-01')
    GROUP BY c_mktsegment
    """,
)
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (NOT EXISTS) — customers with no recent orders."""
    cust = _t(spark, sf_dir, "customer")
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-07-01").cast("timestamp")
    )
    inactive = anti_join(
        cust, recent.select(F.col("o_custkey").alias("c_custkey")), on="c_custkey"
    )
    return inactive.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_inactive"),
        davg(F.col("c_acctbal")).alias("avg_acctbal"),
    )


@register(
    "q_nation_acctbal",
    oracle=f"""
    SELECT n_name, COUNT(*) AS n_customers,
           {sql_davg('c_acctbal')} AS avg_acctbal,
           {sql_dsum('c_acctbal')} AS total_acctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q_nation_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dim join: nation (25 rows) never shuffles the fact side."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            davg(F.col("c_acctbal")).alias("avg_acctbal"),
            dsum(F.col("c_acctbal")).alias("total_acctbal"),
        )
    )


@register(
    "q_extract_enrich",
    oracle="""
    SELECT l_orderkey, l_linenumber, p_name AS part_name, s_name AS supplier_name,
           l_quantity
    FROM lineitem
    LEFT JOIN part     ON l_partkey = p_partkey
    LEFT JOIN supplier ON l_suppkey = s_suppkey
    WHERE l_quantity >= 49
    """,
)
def q_extract_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference `extract` parity (etl.js:729): keyed lookups as broadcast
    left joins instead of per-row findOne round-trips."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    out = enrich(
        li,
        [
            (_t(spark, sf_dir, "part").withColumnRenamed("p_partkey", "l_partkey"),
             "l_partkey", {"p_name": "part_name"}),
            (_t(spark, sf_dir, "supplier").withColumnRenamed("s_suppkey", "l_suppkey"),
             "l_suppkey", {"s_name": "supplier_name"}),
        ],
    )
    return out.select("l_orderkey", "l_linenumber", "part_name", "supplier_name", "l_quantity")


# --- distinct / sets / grouping sets ----------------------------------------

@register(
    "q_distinct_segments",
    oracle="SELECT DISTINCT c_mktsegment FROM customer",
)
def q_distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "customer").select("c_mktsegment").distinct()


@register(
    "q_set_ops",
    oracle="""
    WITH a AS (SELECT DISTINCT o_custkey FROM orders
               WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'),
         b AS (SELECT DISTINCT o_custkey FROM orders
               WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'),
         c AS (SELECT DISTINCT o_custkey FROM orders
               WHERE o_orderdate >= TIMESTAMP '2001-01-01')
    SELECT 'retained' AS cohort, o_custkey FROM ((SELECT * FROM a INTERSECT SELECT * FROM b)
                                                 EXCEPT SELECT * FROM c)
    UNION ALL
    SELECT 'fresh' AS cohort, o_custkey FROM (SELECT * FROM c
                                              EXCEPT (SELECT * FROM a UNION SELECT * FROM b))
    """,
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL cohort analysis."""
    orders = _t(spark, sf_dir, "orders")

    def keys(lo: str | None, hi: str | None) -> DataFrame:
        df = orders
        if lo:
            df = df.filter(F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
        if hi:
            df = df.filter(F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
        return df.select("o_custkey").distinct()

    a = keys("1995-01-01", "1996-01-01")
    b = keys("1996-01-01", "1997-01-01")
    c = keys("2001-01-01", None)
    retained = a.intersect(b).subtract(c).select(
        F.lit("retained").alias("cohort"), "o_custkey"
    )
    fresh = c.subtract(a.union(b)).select(F.lit("fresh").alias("cohort"), "o_custkey")
    return retained.unionAll(fresh)


@register(
    "q_rollup_revenue",
    oracle=f"""
    SELECT r_name, n_name, COUNT(*) AS n_customers, {sql_dsum('c_acctbal')} AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (region → nation → grand total)."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum(F.col("c_acctbal")).alias("total_acctbal"),
        )
    )


# --- windows -----------------------------------------------------------------

@register(
    "q_top_orders_per_cust",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders)
    WHERE rn <= 3
    """,
)
def q_top_orders_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned top-N: one shuffle on the partition key, no global sort."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "q_running_revenue",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey) - 1e-9, 2) + 0 AS running_total
    FROM orders
    WHERE o_custkey < 50
    """,
)
def q_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate; accumulation order is pinned by the unique
    (o_orderdate, o_orderkey) sort so the float sum is cross-engine stable."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        fround(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


# --- nested views (applyView parity) ----------------------------------------

@register(
    "q_nest_customer_orders",
    oracle="""
    SELECT c_custkey, c_name,
           COUNT(o_orderkey) AS n_orders,
           MIN(o_orderkey) AS first_orderkey
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name
    """,
)
def q_nest_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyView parity (etl.js:472): child rows nested as array<struct>,
    then summarized flat so the oracle can hash-compare. The nested array
    itself is exercised in tests/test_relational.py."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "c_custkey")
    nested = nest(cust, orders, on="c_custkey", nested_name="orders", order_by=("o_orderkey",))
    return nested.select(
        "c_custkey",
        "c_name",
        F.size("orders").cast("long").alias("n_orders"),
        F.try_element_at("orders", F.lit(1)).getField("o_orderkey").alias("first_orderkey"),
    )


@register(
    "q_denest_roundtrip",
    oracle="""
    SELECT o_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderdate >= TIMESTAMP '2001-06-01'
    """,
)
def q_denest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nest → denest round trip reproduces the flat join exactly."""
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-06-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
    nested = nest(orders, li, on="o_orderkey", nested_name="items", order_by=("l_linenumber",))
    flat = denest(nested, "items", keep=["o_orderkey"])
    return flat.filter(F.col("l_linenumber").isNotNull()).select(
        "o_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


@register(
    "q_unique_view",
    oracle="""
    SELECT o_custkey, o_orderkey AS first_orderkey, o_orderdate AS first_orderdate
    FROM (SELECT o_custkey, o_orderkey, o_orderdate,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) AS rn
          FROM orders)
    WHERE rn = 1
    """,
)
def q_unique_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """findOne parity (etl.js:477): deterministic first row per key."""
    orders = _t(spark, sf_dir, "orders")
    first = unique_view(orders, "o_custkey", order_by=[F.col("o_orderdate"), F.col("o_orderkey")])
    return first.select(
        "o_custkey",
        F.col("o_orderkey").alias("first_orderkey"),
        F.col("o_orderdate").alias("first_orderdate"),
    )


@register(
    "q_percentile_stats",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n,
           ROUND(quantile_cont(o_totalprice, 0.5) - 1e-9, 2) + 0 AS median_price,
           ROUND(quantile_cont(o_totalprice, 0.9) - 1e-9, 2) + 0 AS p90_price,
           ROUND(sqrt(greatest(0.0,
               (CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(38,8))) AS DOUBLE)
                - CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                  * CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) / COUNT(*))
               / (COUNT(*) - 1))) - 1e-9, 4) + 0 AS stddev_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (interpolated, sort-based => cross-engine
    identical) + sample stddev assembled from exact decimal sums
    (native stddev aggregates float in engine-specific order)."""
    orders = _t(spark, sf_dir, "orders")
    price = F.col("o_totalprice")
    n = F.count(F.lit(1))
    d_sum = F.sum(price.cast("decimal(20,4)")).cast("double")
    d_sumsq = F.sum((price * price).cast("decimal(38,8)")).cast("double")
    var = (d_sumsq - d_sum * d_sum / n) / (n - 1)
    return orders.groupBy("o_orderpriority").agg(
        n.alias("n"),
        fround(F.percentile(price, F.lit(0.5)), 2).alias("median_price"),
        fround(F.percentile(price, F.lit(0.9)), 2).alias("p90_price"),
        fround(F.sqrt(F.greatest(F.lit(0.0), var)), 4).alias("stddev_price"),
    )


@register(
    "q_view_tree",
    oracle="""
    WITH base AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
    agg AS (SELECT c_custkey, COUNT(DISTINCT o_orderkey) AS n_orders,
                   COUNT(l_linenumber) AS total_items
            FROM base
            LEFT JOIN orders   ON o_custkey = c_custkey
            LEFT JOIN lineitem ON l_orderkey = o_orderkey
            GROUP BY c_custkey),
    fo AS (SELECT o_custkey, o_orderkey
           FROM (SELECT o_custkey, o_orderkey,
                        ROW_NUMBER() OVER (PARTITION BY o_custkey
                                           ORDER BY o_orderdate, o_orderkey) AS rn
                 FROM orders)
           WHERE rn = 1)
    SELECT a.c_custkey, a.n_orders, a.total_items, fo.o_orderkey AS first_orderkey
    FROM agg a LEFT JOIN fo ON fo.o_custkey = a.c_custkey
    """,
)
def q_view_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyView parity: a 3-level query tree (customer -> orders ->
    lineitems, plus a findOne first-order node) compiled to one plan
    with nested array/struct columns, summarized flat for the oracle."""
    from cpx_etl_spark.plans.views import ViewCatalog

    cat = ViewCatalog.from_sf_dir(spark, sf_dir)
    view = cat.apply_view(
        {
            "customer": {
                "_": {"where": {"c_mktsegment": "BUILDING"}},
                "orders": {
                    "_": {"on": {"o_custkey": "c_custkey"}, "order_by": ["o_orderkey"]},
                    "lineitem": {
                        "_": {
                            "on": {"l_orderkey": "o_orderkey"},
                            "order_by": ["l_linenumber"],
                            "as": "items",
                        },
                    },
                },
                "first": {
                    "_": {
                        "table": "orders",
                        "on": {"o_custkey": "c_custkey"},
                        "unique": True,
                        "order_by": ["o_orderdate", "o_orderkey"],
                        "as": "first_order",
                    },
                },
            },
        }
    )
    return view.select(
        "c_custkey",
        F.size("orders").cast("long").alias("n_orders"),
        F.aggregate(
            F.col("orders"), F.lit(0), lambda acc, o: acc + F.size(o.getField("items"))
        ).cast("long").alias("total_items"),
        F.col("first_order").getField("o_orderkey").alias("first_orderkey"),
    )


@register(
    "q_asof_join",
    oracle="""
    WITH clicks AS (
        SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
    purchases AS (
        SELECT user_id, ts, value FROM (
            SELECT user_id, ts, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type = 'purchase')
        WHERE rn = 1)
    SELECT c.user_id, c.event_id, c.ts, p.value AS asof_value
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND p.ts <= c.ts
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click gets the latest prior purchase value of
    the same user (union-and-carry, one shuffle — no native Spark ASOF).
    Oracle uses DuckDB's native ASOF JOIN."""
    from cpx_etl_spark.operators.asof import asof_join
    from cpx_etl_spark.operators.relational import unique_view

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "event_id", "ts")
    purchases = unique_view(
        ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value", "event_id"),
        ["user_id", "ts"],
        order_by=[F.col("event_id").desc()],
    ).drop("event_id")
    return asof_join(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["value"],
    ).withColumnRenamed("asof_value", "asof_value")


@register(
    "q_range_join",
    oracle="""
    SELECT a.user_id, COUNT(*) AS n_pairs
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.event_id <> a.event_id
     AND epoch_us(b.ts) BETWEEN epoch_us(a.ts) - 60000000 AND epoch_us(a.ts)
    WHERE a.user_id < 100
    GROUP BY a.user_id
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: events of the same user within a trailing
    60s window. Equi-key + range predicate => sort-merge join with a
    band filter, never a cross product."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    a = ev.select("user_id", F.col("event_id").alias("eid_a"), F.unix_micros("ts").alias("us_a"))
    b = ev.select("user_id", F.col("event_id").alias("eid_b"), F.unix_micros("ts").alias("us_b"))
    pairs = a.join(
        b,
        (a.user_id == b.user_id)
        & (F.col("eid_b") != F.col("eid_a"))
        & (F.col("us_b") >= F.col("us_a") - 60_000_000)
        & (F.col("us_b") <= F.col("us_a")),
    ).drop(b.user_id)
    return pairs.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_pairs"))


@register(
    "q_pivot_daily_events",
    oracle="""
    SELECT date_trunc('day', ts) AS day,
           CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS error,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(SUM(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS view
    FROM events GROUP BY 1
    """,
)
def q_pivot_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: one column per event type (explicit value list keeps the
    schema static — mandatory at scale, where inference would scan)."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return out.select("day", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types])


@register(
    "q_moving_window_revenue",
    oracle="""
    SELECT user_id, event_id, ts,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(20,4))) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE) - 1e-9, 2) + 0
               AS hour_sum
    FROM events WHERE user_id < 40
    """,
)
def q_moving_window_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range moving window (trailing 1 hour per user). RANGE frame
    over integer microseconds; decimal accumulation keeps the frame sum
    order-independent."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        fround(
            F.sum(F.col("value").cast("decimal(20,4)")).over(w).cast("double"), 2
        ).alias("hour_sum"),
    )


@register(
    "q_unpivot_nation_stats",
    oracle="""
    WITH base AS (
        SELECT n_name, COUNT(*) AS n_customers,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(20,4))) AS DOUBLE) AS total_bal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name)
    SELECT n_name, 'n_customers' AS metric, CAST(n_customers AS DOUBLE) AS value FROM base
    UNION ALL
    SELECT n_name, 'total_bal' AS metric, ROUND(total_bal - 1e-9, 2) + 0 AS value FROM base
    """,
)
def q_unpivot_nation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) wide metrics to long form via stack()."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    base = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_customers"),
            dsum(F.col("c_acctbal")).alias("total_bal"),
        )
    )
    return base.select(
        "n_name",
        F.expr(
            "stack(2, 'n_customers', n_customers, 'total_bal', total_bal) AS (metric, value)"
        ),
    )


@register(
    "q_distinct_users_daily",
    oracle="""
    SELECT date_trunc('day', ts) AS day, COUNT(DISTINCT user_id) AS exact_users
    FROM events GROUP BY 1
    """,
)
def q_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-count baseline for the HLL sketch below."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count_distinct("user_id").alias("exact_users")
    )


@register("q_approx_distinct_users")  # rows-only: HLL estimates are engine-specific
def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct users per day — the 100 TB path where exact
    COUNT(DISTINCT) would shuffle every user_id; rsd=2%."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users")
    )


@register(
    "q_salted_agg",
    oracle=f"""
    SELECT l_suppkey,
           {sql_dsum('l_quantity')} AS total_qty,
           COUNT(*) AS n_items
    FROM lineitem GROUP BY l_suppkey
    """,
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation; salting must be result-invariant,
    so the oracle is the plain GROUP BY. Decimal pre-cast keeps the
    two-phase double sum order-independent."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.col("l_quantity").cast("decimal(20,4)").alias("qty_d"),
        F.lit(1).alias("one"),
    )
    out = salted_agg(li, ["l_suppkey"], {"qty_d": "sum", "one": "count"}, salt_buckets=8)
    return out.select(
        "l_suppkey",
        fround(F.col("sum_qty_d").cast("double"), 2).alias("total_qty"),
        F.col("count_one").alias("n_items"),
    )


@register(
    "q_orders_with_lineitems_1996",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-06-01' AND o_orderdate < TIMESTAMP '1996-09-01'
      AND o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45)
    GROUP BY o_orderpriority
    """,
)
def q_orders_with_lineitems_1996(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery as semi_join operator."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-06-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-09-01").cast("timestamp"))
    )
    big_items = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    return (
        semi_join(orders, big_items, on="o_orderkey")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders ON o_custkey = c_custkey
          GROUP BY c_custkey)
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double aggregation: orders-per-customer histogram."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q14_promo_revenue",
    oracle="""
    SELECT ROUND(100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                     THEN l_extendedprice * (1 - l_discount) ELSE 0 END AS DECIMAL(20,4))) AS DOUBLE)
                 / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,4))) AS DOUBLE)
                 - 1e-9, 4) + 0 AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-07-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation ratio (promo revenue share)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return joined.agg(
        fround(
            100.0
            * F.sum(promo.cast("decimal(20,4)")).cast("double")
            / F.sum(rev.cast("decimal(20,4)")).cast("double"),
            4,
        ).alias("promo_revenue_pct")
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
    WITH avg_qty AS (
        SELECT l_partkey, AVG(l_quantity) AS aq FROM lineitem GROUP BY l_partkey)
    SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE) / 7.0 - 1e-9, 2) + 0
               AS avg_yearly
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN avg_qty USING (l_partkey)
    WHERE p_brand = 'Brand#1' AND l_quantity < 0.2 * aq
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated per-key average subquery (avg qty per part) as a
    groupBy + re-join; avg over int counts is cross-engine exact."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    avg_qty = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("aq"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(avg_qty, on="l_partkey")
        .filter(F.col("l_quantity") < 0.2 * F.col("aq"))
        .agg(
            fround(
                F.sum(F.col("l_extendedprice").cast("decimal(20,4)")).cast("double") / 7.0,
                2,
            ).alias("avg_yearly")
        )
    )


@register(
    "q18_large_orders",
    oracle=f"""
    SELECT o_orderkey, o_orderdate, o_totalprice,
           {sql_dsum('l_quantity')} AS total_qty
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderkey, o_orderdate, o_totalprice
    HAVING SUM(l_quantity) > 150
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING on a grouped sum + deterministic top-k."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_totalprice")
        .agg(
            dsum(F.col("l_quantity")).alias("total_qty"),
            F.sum("l_quantity").alias("_raw_qty"),
        )
        .filter(F.col("_raw_qty") > 150)
        .drop("_raw_qty")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


@register(
    "q19_disjunctive_revenue",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunction of conjunctive predicates across the join."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), part.p_partkey == li.l_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 21))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25) & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35) & F.col("l_quantity").between(20, 40))
    )
    return j.filter(cond).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )


@register(
    "q22_inactive_rich_customers",
    oracle=f"""
    WITH avg_bal AS (SELECT AVG(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0)
    SELECT c_nationkey, COUNT(*) AS numcust, {sql_dsum('c_acctbal')} AS totacctbal
    FROM customer, avg_bal
    WHERE c_acctbal > ab
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2001-01-01')
    GROUP BY c_nationkey
    """,
)
def q22_inactive_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery threshold + anti-join (customers above average
    balance with no recent orders). The scalar average broadcasts via a cross
    join of one row. avg over doubles: decimal-sum based for parity."""
    cust = _t(spark, sf_dir, "customer")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp"))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(20,4)")).cast("double")
                / F.count(F.lit(1))
            ).alias("ab")
        )
    )
    rich = cust.crossJoin(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("ab"))
    inactive = anti_join(rich, orders, on="c_custkey")
    return inactive.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        dsum(F.col("c_acctbal")).alias("totacctbal"),
    )


@register(
    "q_sql_interface",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) - 1e-9, 2) + 0
               AS total_revenue
    FROM orders
    GROUP BY 1, 2
    """,
)
def q_sql_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spark.sql() surface: registered temp views + the same ANSI
    SQL text the oracle runs (modulo nothing — it is identical)."""
    from cpx_etl_spark.sources.registry import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT CAST(year(o_orderdate) AS INT) AS order_year,
               o_orderpriority,
               COUNT(*) AS n_orders,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) - 1e-9, 2) + 0
                   AS total_revenue
        FROM orders
        GROUP BY 1, 2
        """
    )


@register(
    "q_merge_upsert",
    oracle="""
    WITH updates AS (
        SELECT o_custkey AS c_custkey,
               ROUND(MAX(o_totalprice) - 1e-9, 2) + 0 AS new_acctbal
        FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01'
        GROUP BY o_custkey)
    SELECT COALESCE(c.c_custkey, u.c_custkey) AS c_custkey,
           c.c_name,
           COALESCE(u.new_acctbal, c.c_acctbal) AS c_acctbal,
           CASE WHEN u.c_custkey IS NOT NULL THEN 'UPDATED'
                ELSE c.c_mktsegment END AS c_mktsegment
    FROM customer c FULL OUTER JOIN updates u ON c.c_custkey = u.c_custkey
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-1 merge/upsert (load-phase parity beyond plain INSERT):
    customers with recent orders get an updated balance + segment tag."""
    from cpx_etl_spark.operators.relational import merge_upsert

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    updates = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp"))
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(fround(F.max("o_totalprice"), 2).alias("c_acctbal"))
        .withColumn("c_mktsegment", F.lit("UPDATED"))
    )
    return merge_upsert(cust, updates, keys="c_custkey")


@register(
    "q_scd2_intervals",
    oracle="""
    SELECT user_id, event_id, event_type, ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
               AS is_current
    FROM events WHERE user_id < 30
    """,
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 validity intervals from a change stream."""
    from cpx_etl_spark.operators.relational import scd2_intervals

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    out = scd2_intervals(
        ev.select("user_id", "event_id", "event_type", "ts"),
        keys="user_id", ts_col="ts", order_cols=("event_id",),
    )
    return out.select(
        "user_id", "event_id", "event_type",
        F.col("valid_from"), F.col("valid_to"), F.col("is_current"),
    )


# --- TPC-H breadth additions (r3): multi-nation joins, market share,
# profit rollup, returned items, view-reuse top supplier. The test
# schema omits partsupp / shipmode / commit+receipt dates, so q2, q11,
# q12, q16, q20 and q21 are unexpressible on this data; q9 substitutes
# p_retailprice-based cost for ps_supplycost.


@register(
    "q7_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           CAST(ROUND(SUM(volume), 2) AS DOUBLE) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INTEGER) AS l_year,
               {_DISC_PRICE_DEC} AS volume
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                             AND TIMESTAMP '1997-12-31') shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral trade volume between two nations by year —
    6-table join with a disjunctive nation-pair predicate; both nation
    dims broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    one = F.lit(1).cast("decimal(5,4)")
    volume = F.col("l_extendedprice").cast("decimal(12,4)") * (
        one - F.col("l_discount").cast("decimal(5,4)")
    )
    joined = (
        li.filter(
            F.col("l_shipdate").between(
                F.lit("1996-01-01").cast("timestamp"),
                F.lit("1997-12-31").cast("timestamp"),
            )
        )
        .join(F.broadcast(_t(spark, sf_dir, "supplier")), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(_t(spark, sf_dir, "orders"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(_t(spark, sf_dir, "customer"), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        joined.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            volume.alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(F.sum("volume"), 2).cast("double").alias("revenue"))
    )


@register(
    "q8_market_share",
    oracle=f"""
    SELECT o_year,
           {sql_fround("CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume ELSE CAST(0 AS DECIMAL(12,4)) END) AS DOUBLE)"
                       " / CAST(SUM(volume) AS DOUBLE)", 6)} AS mkt_share
    FROM (
        SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
               {_DISC_PRICE_DEC} AS volume,
               n2.n_name AS nation
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region   ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'AMERICA'
          AND o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                              AND TIMESTAMP '1997-12-31'
          AND p_type = 'PROMO') all_nations
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: national market share inside a region — 8-table join;
    conditional decimal aggregation gives an exact, order-independent
    ratio in both engines."""
    li = _t(spark, sf_dir, "lineitem")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nation")
    )
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    one = F.lit(1).cast("decimal(5,4)")
    volume = F.col("l_extendedprice").cast("decimal(12,4)") * (
        one - F.col("l_discount").cast("decimal(5,4)")
    )
    zero = F.lit(0).cast("decimal(12,4)")
    joined = (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(_t(spark, sf_dir, "supplier")), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(_t(spark, sf_dir, "orders"), F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(
            F.col("o_orderdate").between(
                F.lit("1996-01-01").cast("timestamp"),
                F.lit("1997-12-31").cast("timestamp"),
            )
        )
        .join(_t(spark, sf_dir, "customer"), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(region), F.col("c_rk") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
    )
    return (
        joined.select(
            F.year("o_orderdate").alias("o_year"),
            volume.alias("volume"),
            "nation",
        )
        .groupBy("o_year")
        .agg(
            fround(
                F.sum(F.when(F.col("nation") == "NATION_3", F.col("volume")).otherwise(zero)).cast("double")
                / F.sum("volume").cast("double"),
                6,
            ).alias("mkt_share")
        )
    )


@register(
    "q9_product_profit",
    oracle=f"""
    SELECT nation, o_year, CAST(ROUND(SUM(amount), 2) AS DOUBLE) AS sum_profit
    FROM (
        SELECT n_name AS nation,
               CAST(year(o_orderdate) AS INTEGER) AS o_year,
               {_DISC_PRICE_DEC}
               - CAST(l_quantity AS DECIMAL(12,4))
                 * CAST(p_retailprice AS DECIMAL(12,4))
                 * CAST(0.1 AS DECIMAL(2,1)) AS amount
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE p_type = 'ECONOMY') profit
    GROUP BY nation, o_year
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (adapted: no partsupp table — 10%% of p_retailprice
    stands in for ps_supplycost): profit by supplier nation and year.
    All arithmetic stays in the decimal domain until the final round,
    so the big fact-side sum is order-independent cross-engine."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    nation = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey"), F.col("n_name").alias("nation")
    )
    one = F.lit(1).cast("decimal(5,4)")
    amount = (
        F.col("l_extendedprice").cast("decimal(12,4)")
        * (one - F.col("l_discount").cast("decimal(5,4)"))
        - F.col("l_quantity").cast("decimal(12,4)")
        * F.col("p_retailprice").cast("decimal(12,4)")
        * F.lit(0.1).cast("decimal(2,1)")
    )
    joined = (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(_t(spark, sf_dir, "supplier")), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(_t(spark, sf_dir, "orders"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return (
        joined.select(
            "nation", F.year("o_orderdate").alias("o_year"), amount.alias("amount")
        )
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("amount"), 2).cast("double").alias("sum_profit"))
    )


@register(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '2000-01-01'
      AND o_orderdate <  TIMESTAMP '2000-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by lost revenue on returned items in
    one quarter; custkey tiebreak keeps the selected row set stable."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("2000-04-01").cast("timestamp"))
    )
    nation = _t(spark, sf_dir, "nation")
    disc = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        _t(spark, sf_dir, "customer")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(disc).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               {sql_dsum('l_extendedprice * (1 - l_discount)')} AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: reusable revenue view + scalar-subquery max filter.
    The view computes once (exchange reuse); equality on the exact
    decimal-rounded revenue is deterministic cross-engine."""
    rev = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dsum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).alias("total_revenue"))
    )
    top = rev.agg(F.max("total_revenue").alias("_mx"))
    return (
        _t(spark, sf_dir, "supplier")
        .join(rev, F.col("s_suppkey") == F.col("supplier_no"))
        .join(F.broadcast(top), F.col("total_revenue") == F.col("_mx"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q_cube_revenue",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '2000-01-01'
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (all 4 combinations incl. grand total) —
    completes the grouping-set family next to ROLLUP."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    disc = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(dsum(disc).alias("revenue"), F.count(F.lit(1)).alias("n"))
    )


@register(
    "q_event_deltas",
    oracle="""
    SELECT event_id, user_id,
           ROUND(value - LAG(value) OVER w - 1e-9, 4) + 0 AS value_delta,
           CAST(epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS BIGINT) AS gap_us
    FROM events
    WHERE user_id < 50
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_event_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag analytics: per-user value delta and microsecond gap to
    the previous event (ts+event_id ordering is unique => deterministic;
    first event per user yields nulls on both engines)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        fround(F.col("value") - F.lag("value").over(w), 4).alias("value_delta"),
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w))
        .cast("long")
        .alias("gap_us"),
    )


@register(
    "q_salted_join",
    oracle=f"""
    SELECT o_orderpriority,
           {sql_dsum('l_extendedprice')} AS sum_price, COUNT(*) AS n
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    WHERE o_orderdate >= TIMESTAMP '2001-01-01'
    GROUP BY o_orderpriority
    """,
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-replicated salted join, gate-verified against the plain
    join's answer: the big side salts uniformly, the small side
    replicates per salt bucket, so one hot key spreads over
    `salt_buckets` reducers (the guard AQE's skew splitting cannot
    apply to broadcast/replicated patterns)."""
    from cpx_etl_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp"))
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
    )
    joined = salted_join(li, orders, on="l_orderkey", salt_buckets=8)
    return joined.groupBy("o_orderpriority").agg(
        dsum(F.col("l_extendedprice")).alias("sum_price"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q_bucketed_join",
    oracle=f"""
    SELECT o_orderpriority,
           {sql_dsum('o_totalprice')} AS sum_price, COUNT(*) AS n
    FROM (SELECT DISTINCT o_orderkey, o_orderpriority, o_totalprice
          FROM orders WHERE o_orderdate >= TIMESTAMP '2001-06-01') o
    JOIN (SELECT DISTINCT l_orderkey FROM lineitem) l
      ON l.l_orderkey = o.o_orderkey
    GROUP BY o_orderpriority
    """,
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table co-located join: both sides land in tables
    bucketed+sorted on the join key, so the join itself needs NO
    exchange (SortMergeJoin reads pre-bucketed files). The gate
    verifies content; tests/test_scale_utils.py asserts the plan has
    no shuffle below the join."""
    import os
    import shutil

    from cpx_etl_spark.sources.sinks import write_bucketed_table

    # a fresh session has no catalog entry but the managed LOCATION can
    # survive from an earlier run — drop both before recreating
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for tbl in ("cpx_bkt_orders", "cpx_bkt_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        leftover = os.path.join(warehouse, tbl)
        if os.path.exists(leftover):
            shutil.rmtree(leftover)

    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2001-06-01").cast("timestamp"))
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .dropDuplicates(["o_orderkey"])
    )
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey")
    ).dropDuplicates()
    write_bucketed_table(orders, "cpx_bkt_orders", ["o_orderkey"], 8,
                         sort_cols=["o_orderkey"])
    write_bucketed_table(li, "cpx_bkt_lineitem", ["o_orderkey"], 8,
                         sort_cols=["o_orderkey"])
    o = spark.table("cpx_bkt_orders")
    l = spark.table("cpx_bkt_lineitem")
    return (
        o.join(l, on="o_orderkey")
        .groupBy("o_orderpriority")
        .agg(dsum(F.col("o_totalprice")).alias("sum_price"),
             F.count(F.lit(1)).alias("n"))
    )


@register(
    "q_resample_fill",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, date_trunc('hour', ts) AS h, value
        FROM events WHERE user_id < 20),
    hourly AS (
        SELECT user_id, h, COUNT(*) AS n, {sql_dsum('value')} AS sv
        FROM ev GROUP BY user_id, h),
    bounds AS (
        SELECT user_id, MIN(h) AS mn, MAX(h) AS mx FROM ev GROUP BY user_id),
    grid AS (
        SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
        FROM bounds)
    SELECT g.user_id, g.h AS hour_start,
           COALESCE(n, 0) AS n_events,
           last_value(sv IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_value_ff
    FROM grid g LEFT JOIN hourly USING (user_id, h)
    """,
)
def q_resample_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + gap fill (the hypertable-rollup shape):
    every user gets a dense hourly grid across their active range
    (sequence + explode — no driver loop), hourly aggregates left-join
    on, counts zero-fill, and the running sum forward-fills through
    empty hours via last(ignorenulls). Grid generation is linear in
    user-hours and partitions by user — no global materialization."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    evh = ev.select("user_id", F.date_trunc("hour", "ts").alias("h"), "value")
    hourly = evh.groupBy("user_id", "h").agg(
        F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("sv")
    )
    bounds = evh.groupBy("user_id").agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias("h"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, on=["user_id", "h"], how="left")
        .select(
            "user_id",
            F.col("h").alias("hour_start"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
            F.last("sv", ignorenulls=True).over(w).alias("sum_value_ff"),
        )
    )


@register(
    "q_event_funnel",
    oracle="""
    WITH v AS (SELECT user_id, MIN(ts) AS t_view FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts) AS t_click
          FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t_view
          WHERE e.event_type = 'click' GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase
          FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t_click
          WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT (SELECT COUNT(*) FROM v) AS n_viewed,
           (SELECT COUNT(*) FROM c) AS n_clicked_after,
           (SELECT COUNT(*) FROM p) AS n_purchased_after
    """,
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view -> later click -> later
    purchase): each stage is a groupBy(user) min-timestamp aggregate
    semi-joined to the prior stage with a strict time ordering — three
    user-keyed shuffles, no window over the event stream, so each stage
    frame is |users|, never |events|."""
    ev = _t(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, on="user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id").agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, on="user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id").agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_viewed"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_clicked_after")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchased_after")))
    )


@register(
    "q_cohort_retention",
    oracle="""
    WITH first AS (
        SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
        FROM events GROUP BY user_id),
    activity AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS activity_week
        FROM events)
    SELECT f.cohort_week, a.activity_week, COUNT(*) AS n_users
    FROM first f JOIN activity a USING (user_id)
    GROUP BY f.cohort_week, a.activity_week
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity week,
    counted in every week they return — the standard growth analytic.
    Two user-keyed aggregates + one join; activity is distinct per
    (user, week) so each user counts once per cell."""
    ev = _t(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("activity_week")
    ).distinct()
    return (
        first.join(activity, on="user_id")
        .groupBy("cohort_week", "activity_week")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "q_grouping_sets",
    oracle=f"""
    SELECT COALESCE(l_returnflag, '(all)') AS returnflag,
           COALESCE(l_linestatus, '(all)') AS linestatus,
           COUNT(*) AS n,
           {sql_dsum("l_extendedprice * (1 - l_discount)")} AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form ROLLUP/CUBE compile
    to): (flag, status) detail, per-flag subtotal, grand total in ONE
    aggregation pass with map-side partials — not a UNION of three
    scans. NULL group markers are labeled so the result is
    row-identical cross-engine."""
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag", "l_linestatus",
        )
        .agg(F.count(F.lit(1)).alias("n"), dsum(rev).alias("revenue"))
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("(all)")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("(all)")).alias("linestatus"),
            "n",
            "revenue",
        )
    )


@register(
    "q_incremental_rollup",
    oracle=f"""
    SELECT date_trunc('day', ts) AS day, event_type,
           COUNT(*) AS n, {sql_dsum('value')} AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-rollup maintenance: the event history
    arrives as three disjoint batches (md5 split); each refresh folds
    only that batch's partial aggregate into the rollup via
    additive_rollup_merge — counts add, sums accumulate in DECIMAL, so
    three refreshes reproduce the full recompute BIT-EXACTLY (the
    oracle is the one-shot GROUP BY). At scale each refresh costs
    |batch| + |rollup keys|, never the fact history; the stored-table
    round-trip (upsert between refreshes) is pytest-verified."""
    from cpx_etl_spark.operators.relational import additive_rollup_merge

    ev = _t(spark, sf_dir, "events")
    digit = F.substring(F.md5(F.col("event_id").cast("string")), 1, 1)
    batches = [
        ev.filter(digit <= "4"),
        ev.filter((digit >= "5") & (digit <= "9")),
        ev.filter(digit >= "a"),
    ]
    roll = None
    for b in batches:
        delta = b.groupBy(
            F.date_trunc("day", "ts").alias("day"), F.col("event_type")
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(20,4)")).alias("sv"),
        )
        roll = additive_rollup_merge(
            roll, delta, ["day", "event_type"], ["n", "sv"]
        )
    return roll.select(
        "day", "event_type", F.col("n").cast("long").alias("n"),
        fround(F.col("sv").cast("double"), 2).alias("sum_value"),
    )


@register(
    "q_user_value_deciles",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id, COUNT(*) AS n_events, {sql_dsum('value')} AS total_value
        FROM events GROUP BY user_id)
    SELECT user_id, n_events, total_value,
           CAST(NTILE(10) OVER (ORDER BY total_value DESC, user_id)
                AS INTEGER) AS decile
    FROM per_user
    """,
)
def q_user_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user value deciles via NTILE(10) over the aggregated user
    frame (user-cardinality, not event-cardinality — the global window
    orders |users| rows, acceptable because the rollup is the small
    output of a partial-aggregated shuffle; a corpus-scale frame would
    range-partition first). user_id tiebreak pins the SQL-standard
    remainder distribution deterministically."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value")).alias("total_value"),
    )
    w = Window.orderBy(F.col("total_value").desc(), F.col("user_id"))
    return per_user.withColumn("decile", F.ntile(10).over(w).cast("int"))


@register(
    "q12_ship_lag_buckets",
    oracle="""
    SELECT o.o_orderpriority,
           CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 30 THEN 'fast'
                WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 90 THEN 'normal'
                ELSE 'slow' END AS lag_bucket,
           COUNT(*) AS n_items
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY 1, 2
    """,
)
def q12_ship_lag_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12's shape adapted to this schema (no l_shipmode /
    commitdate columns exist): ship lag = l_shipdate - o_orderdate,
    bucketed fast/normal/slow and counted per order priority. One
    fact-fact join on the order key (AQE-managed) + one aggregation
    with map-side partials."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    lag = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = (
        F.when(lag <= 30, "fast").when(lag <= 90, "normal").otherwise("slow")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority", bucket.alias("lag_bucket"))
        .agg(F.count(F.lit(1)).alias("n_items"))
    )


@register(
    "q_nested_hof_metrics",
    oracle=f"""
    SELECT l_orderkey AS order_id,
           COUNT(*) AS n_items,
           COUNT(*) FILTER (WHERE l_returnflag = 'N') AS n_kept,
           {sql_dsum("CASE WHEN l_returnflag = 'N' "
                     "THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
               AS kept_revenue,
           MAX(l_extendedprice) AS max_item_price
    FROM lineitem
    GROUP BY l_orderkey
    """,
)
def q_nested_hof_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order metrics computed ON THE NESTED ARRAY with higher-order
    functions (size / filter / aggregate / array_max) after nest() —
    the reference's nested-view results are compute targets, not just
    output shapes. The decimal accumulate inside F.aggregate keeps the
    revenue sum order-independent, so the flat GROUP BY oracle matches
    bit-for-bit. One groupBy shuffle (the nest); every HOF then runs
    narrow over the in-row array."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    nested = li.groupBy("l_orderkey").agg(
        F.collect_list(
            F.struct("l_returnflag", "l_extendedprice", "l_discount")
        ).alias("items")
    )
    items = F.col("items")
    kept = F.filter(items, lambda x: x.getField("l_returnflag") == "N")
    rev = F.aggregate(
        kept,
        F.lit(0).cast("decimal(20,4)"),
        lambda acc, x: (
            acc + (
                x.getField("l_extendedprice") * (1 - x.getField("l_discount"))
            ).cast("decimal(20,4)")
        ).cast("decimal(20,4)"),
    )
    return nested.select(
        F.col("l_orderkey").alias("order_id"),
        F.size(items).cast("long").alias("n_items"),
        F.size(kept).cast("long").alias("n_kept"),
        fround(rev.cast("double"), 2).alias("kept_revenue"),
        F.array_max(F.transform(items, lambda x: x.getField("l_extendedprice"))).alias("max_item_price"),
    )


@register(
    "q_anomaly_mad",
    oracle="""
    WITH med AS (
        SELECT event_type, median(value) AS med
        FROM events GROUP BY event_type),
    dev AS (
        SELECT e.event_type, e.value, m.med,
               ABS(e.value - m.med) AS adev
        FROM events e JOIN med m USING (event_type)),
    mad AS (
        SELECT event_type, median(adev) AS mad FROM dev
        GROUP BY event_type)
    SELECT d.event_type,
           COUNT(*) AS n,
           ROUND(MIN(d.med) - 1e-9, 6) + 0 AS med,
           ROUND(MIN(m.mad) - 1e-9, 6) + 0 AS mad,
           CAST(SUM(CASE WHEN d.adev > 3 * m.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    """,
)
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly counts per event type: median / MAD (median
    absolute deviation) flag values with |v - med| > 3*MAD — the
    outlier rule that, unlike z-scores, a few extreme values cannot
    poison. Exact interpolated medians are IEEE-identical across
    engines (midpoint of two doubles), so the raw-double comparison
    replays without rounding games; two group-aggregations + one
    dim-sized join back, never a corpus window."""
    ev = _t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = ev.join(med, on="event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.median("adev").alias("mad"))
    return (
        dev.join(mad, on="event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            fround(F.min("med"), 6).alias("med"),
            fround(F.min("mad"), 6).alias("mad"),
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0)
            ).cast("long").alias("n_outliers"),
        )
    )


@register(
    "q_revenue_share",
    oracle=f"""
    WITH rev AS (
        SELECT r.r_name AS region, n.n_name AS nation,
               {sql_dsum("l_extendedprice * (1 - l_discount)")} AS revenue
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        GROUP BY r.r_name, n.n_name)
    SELECT region, nation, revenue,
           ROUND(revenue / SUM(revenue) OVER (PARTITION BY region) - 1e-9, 6)
               + 0 AS region_share
    FROM rev
    """,
)
def q_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of its REGION's revenue —
    the window runs over the aggregated (region, nation) frame (25
    rows), never the fact table; dims broadcast, one fact shuffle for
    the group-by. The share division happens on the already-rounded
    decimal-exact revenue, so both engines divide identical doubles."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )
    w = Window.partitionBy("region")
    return rev.withColumn(
        "region_share",
        fround(F.col("revenue") / F.sum("revenue").over(w), 6),
    )


@register(
    "q_session_funnel",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, event_type, ts,
               LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        FROM events),
    f AS (
        SELECT *, CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
                       THEN 1 ELSE 0 END AS is_new
        FROM e),
    g AS (
        SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
        FROM f),
    per_session AS (
        SELECT user_id, sid,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               COUNT(*) AS n_events
        FROM g GROUP BY user_id, sid),
    conv AS (
        SELECT p.user_id, p.sid,
               MIN(g.ts) AS t_click
        FROM per_session p
        JOIN g ON g.user_id = p.user_id AND g.sid = p.sid
              AND g.event_type = 'click' AND g.ts > p.t_view
        GROUP BY p.user_id, p.sid)
    SELECT COUNT(*) AS n_sessions,
           COUNT(*) FILTER (WHERE p.t_view IS NOT NULL) AS n_with_view,
           (SELECT COUNT(*) FROM conv) AS n_converted
    FROM per_session p
    """,
)
def q_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-scoped conversion funnel: sessions (30-min gap islands,
    per-event session ids via lag + running sum — user-partitioned
    windows, never corpus-global), sessions that contain a view, and
    sessions where a click follows that view WITHIN the session. The
    global funnel (q_event_funnel) measures lifetime conversion; this
    measures within-visit conversion — the product-analytics pair."""
    ev = _t(spark, sf_dir, "events")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w_ord)
    with_sid = (
        ev.withColumn(
            "is_new",
            F.when(gap_us.isNull() | (gap_us > 1800000000), 1).otherwise(0),
        )
        .withColumn(
            "sid",
            F.sum("is_new").over(
                w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    per_session = with_sid.groupBy("user_id", "sid").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.count(F.lit(1)).alias("n_events"),
    )
    conv = (
        with_sid.filter(F.col("event_type") == "click")
        .join(per_session.select("user_id", "sid", "t_view"),
              on=["user_id", "sid"])
        .filter(F.col("ts") > F.col("t_view"))
        .select("user_id", "sid")
        .distinct()
    )
    return (
        per_session.agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum(F.when(F.col("t_view").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_with_view"),
        )
        .crossJoin(conv.agg(F.count(F.lit(1)).alias("n_converted")))
    )


@register(
    "q_approx_distinct_sampled",
    oracle="""
    SELECT date_trunc('day', ts) AS day,
           COUNT(DISTINCT user_id) AS n_exact,
           16 * COUNT(DISTINCT CASE
               WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) = '0'
               THEN user_id END) AS n_est
    FROM events GROUP BY 1
    """,
)
def q_approx_distinct_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-sampling distinct estimator — the exactly-replayable
    alternative to HLL (q_approx_distinct_users stays rows-only because
    HLL registers are engine-specific): keys whose md5 starts '0' form
    a deterministic 1/16 sample OF THE KEY SPACE, so 16x the sample's
    distinct count estimates the total, unbiased, with the SAME keys
    sampled in every engine — the estimate itself is hash-verified, not
    just row-counted. Distinct-count work shrinks 16x; the pattern
    scales to any p = 16^-k by lengthening the prefix."""
    ev = _t(spark, sf_dir, "events")
    sampled_user = F.when(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) == "0",
        F.col("user_id"),
    )
    return ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.countDistinct("user_id").alias("n_exact"),
        (16 * F.countDistinct(sampled_user)).alias("n_est"),
    )

def _rolling_distinct_users(ev: DataFrame, window_days: int, out: str) -> DataFrame:
    """Shared contribution-explode rolling-distinct construction (used
    by q_rolling_distinct_users and q_dau_wau_mau — code-review r7:
    two verbatim copies had drifted apart by 1,600 lines): each
    distinct (user, day) fans out to the <= window_days window-end
    days it can serve, then one groupBy counts distincts per day.
    Linear (window_days x the distinct-pair frame, never
    |events| x window), uniform day keys, no per-user state."""
    ud = ev.select("user_id", F.date_trunc("day", "ts").alias("d")).distinct()
    days = ev.select(F.date_trunc("day", "ts").alias("day")).distinct()
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("d"),
                F.col("d") + F.expr(f"INTERVAL {window_days - 1} DAYS"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day"),
    )
    return (
        contrib.join(days, on="day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias(out))
    )


@register(
    "q_rolling_distinct_users",
    oracle="""
    WITH ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events),
    days AS (SELECT DISTINCT date_trunc('day', ts) AS day FROM events),
    contrib AS (SELECT user_id, d + to_days(CAST(gs.i AS INTEGER)) AS day
                FROM ud, generate_series(0, 6) gs(i))
    SELECT c.day, COUNT(DISTINCT c.user_id) AS users_7d
    FROM contrib c JOIN days USING (day)
    GROUP BY c.day
    """,
)
def q_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 7-day rolling distinct users — the sliding-window distinct
    that a RANGE window cannot express (COUNT(DISTINCT) is unsupported
    in window frames in both engines). Contribution-explode formulation
    (_rolling_distinct_users) — the shape that survives a 100x corpus,
    unlike the naive per-day self-join which rescans the event table
    once per day."""
    return _rolling_distinct_users(
        _t(spark, sf_dir, "events"), 7, "users_7d"
    )


@register(
    "q_attribution_last_touch",
    oracle=f"""
    WITH p AS (SELECT event_id, user_id, ts AS p_ts, value
               FROM events WHERE event_type = 'purchase'),
    la AS (SELECT p.event_id, p.p_ts, p.value, MAX(c.ts) AS c_ts
           FROM p LEFT JOIN events c
             ON c.event_type = 'click' AND c.user_id = p.user_id
            AND c.ts <= p.p_ts AND c.ts > p.p_ts - INTERVAL 1 HOUR
           GROUP BY p.event_id, p.p_ts, p.value)
    SELECT date_trunc('day', p_ts) AS day,
           COUNT(*) FILTER (WHERE c_ts IS NOT NULL) AS n_attributed,
           COUNT(*) FILTER (WHERE c_ts IS NULL) AS n_organic,
           {sql_dsum('CASE WHEN c_ts IS NOT NULL THEN value ELSE 0 END')} AS rev_attributed,
           {sql_dsum('CASE WHEN c_ts IS NULL THEN value ELSE 0 END')} AS rev_organic
    FROM la GROUP BY 1
    """,
)
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase credits the most
    recent click by the same user within the preceding hour, else counts
    as organic. One time-banded left join (user-keyed, 1h band bounds
    the join state exactly like the stream-stream interval join's
    watermark) + max-reduce per purchase — no window over raw events,
    no per-user collect. Daily revenue split closes the funnel family."""
    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("p_ts"), "value"
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    j = p.join(
        c,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "left",
    )
    la = j.groupBy("event_id", "p_ts", "value").agg(F.max("c_ts").alias("c_ts"))
    attributed = F.col("c_ts").isNotNull()
    return la.groupBy(F.date_trunc("day", "p_ts").alias("day")).agg(
        F.count(F.when(attributed, 1)).alias("n_attributed"),
        F.count(F.when(~attributed, 1)).alias("n_organic"),
        dsum(F.when(attributed, F.col("value")).otherwise(0)).alias("rev_attributed"),
        dsum(F.when(~attributed, F.col("value")).otherwise(0)).alias("rev_organic"),
    )


@register(
    "q_winsorized_stats",
    oracle=f"""
    WITH b AS (SELECT c_mktsegment,
                      quantile_cont(c_acctbal, 0.05) AS lo,
                      quantile_cont(c_acctbal, 0.95) AS hi
               FROM customer GROUP BY c_mktsegment)
    SELECT c.c_mktsegment, COUNT(*) AS n,
           COUNT(*) FILTER (WHERE c_acctbal < lo OR c_acctbal > hi) AS n_clipped,
           {sql_fround('quantile_cont(c_acctbal, 0.05)', 2)} AS p05,
           {sql_fround('quantile_cont(c_acctbal, 0.95)', 2)} AS p95,
           {sql_davg('c_acctbal')} AS mean_raw,
           {sql_davg('least(greatest(c_acctbal, lo), hi)')} AS mean_winsor
    FROM customer c JOIN b USING (c_mktsegment)
    GROUP BY c.c_mktsegment
    """,
)
def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (percentile-clipped) statistics per segment — the
    outlier-robust mean used to keep heavy-tailed features from skewing
    training statistics. Pass 1 computes exact interpolated p05/p95 per
    segment (sort-based, IEEE-identical cross-engine — the q_anomaly_mad
    precedent); the 5-row bounds frame broadcasts back onto the table
    and the clipped mean accumulates in exact decimal. Two scans, one
    tiny broadcast, no window."""
    cust = _t(spark, sf_dir, "customer")
    bal = F.col("c_acctbal")
    b = cust.groupBy("c_mktsegment").agg(
        F.percentile(bal, F.lit(0.05)).alias("lo"),
        F.percentile(bal, F.lit(0.95)).alias("hi"),
    )
    clipped = F.least(F.greatest(bal, F.col("lo")), F.col("hi"))
    return (
        cust.join(F.broadcast(b), on="c_mktsegment")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when((bal < F.col("lo")) | (bal > F.col("hi")), 1)).alias(
                "n_clipped"
            ),
            fround(F.percentile(bal, F.lit(0.05)), 2).alias("p05"),
            fround(F.percentile(bal, F.lit(0.95)), 2).alias("p95"),
            davg(bal).alias("mean_raw"),
            davg(clipped).alias("mean_winsor"),
        )
    )

# --- record linkage ----------------------------------------------------------

# Deterministic name corruption for the linkage demo: one digit of the
# 9-digit customer id inside c_name is substituted, with position and
# replacement both md5-derived from the custkey — replayable in any
# engine, guaranteed to change the name (shift 1..9 mod 10 never maps a
# digit to itself).
_LNK_POS = "CAST(CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT) % 9 AS INTEGER)"
_LNK_SHIFT = "CAST(CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 9, 8)) AS BIGINT) % 9 + 1 AS INTEGER)"


@register(
    "q_record_linkage",
    oracle=f"""
    WITH src AS (SELECT c_custkey, c_name, c_nationkey,
                        {_LNK_POS} AS pos, {_LNK_SHIFT} AS shift
                 FROM customer),
    dirty AS (SELECT c_custkey AS d_key, c_nationkey AS d_nation,
                     substr(c_name, 1, 9 + pos)
                     || CAST((CAST(substr(c_name, 10 + pos, 1) AS INTEGER) + shift) % 10 AS VARCHAR)
                     || substr(c_name, 11 + pos, 9) AS d_name
              FROM src),
    cand AS (
        SELECT DISTINCT d.d_key, d.d_name, c.c_custkey, c.c_name
        FROM dirty d JOIN customer c
          ON c.c_nationkey = d.d_nation
         AND (substr(c.c_name, 10, 1) || substr(c.c_name, 12, 1) || substr(c.c_name, 14, 1) || substr(c.c_name, 16, 1) || substr(c.c_name, 18, 1) = substr(d.d_name, 10, 1) || substr(d.d_name, 12, 1) || substr(d.d_name, 14, 1) || substr(d.d_name, 16, 1) || substr(d.d_name, 18, 1)
              OR substr(c.c_name, 11, 1) || substr(c.c_name, 13, 1) || substr(c.c_name, 15, 1) || substr(c.c_name, 17, 1) = substr(d.d_name, 11, 1) || substr(d.d_name, 13, 1) || substr(d.d_name, 15, 1) || substr(d.d_name, 17, 1)))
    SELECT d_key AS dirty_custkey, c_custkey AS matched_custkey,
           levenshtein(d_name, c_name) AS dist,
           (d_key = c_custkey) AS is_true_match
    FROM cand
    WHERE levenshtein(d_name, c_name) <= 1
    """,
)
def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage with multi-pass blocking — the entity-
    resolution primitive (dirty feed -> master data). A deterministic
    md5-derived corruption flips ONE digit of each customer name; the
    linker then recovers matches WITHOUT an all-pairs scan: two blocking
    passes keyed on the INTERLEAVED digit parities (nation + even-
    position digits, nation + odd-position digits) — a single
    substituted digit sits at exactly one parity, so the other parity
    key is intact and every true pair survives blocking by
    construction. Parity keys carry ~half the id's entropy each, so
    blocks stay small even on DENSE SEQUENTIAL ids (a plain prefix
    block degenerates: the first five digits of a 15k-row table are
    '00000' for two thirds of it — measured 6.4 s at sf0.1 before this
    keying, 10x less after). Candidates are verified with
    levenshtein <= 1; sum-of-block-size-squared volume, two hash joins
    + one distinct, never |table|^2. Every true pair is found
    (is_true_match flags them vs incidental near-collisions)."""
    cust = _t(spark, sf_dir, "customer")
    d = F.md5(F.col("c_custkey").cast("string"))
    src = cust.select(
        "c_custkey", "c_name", "c_nationkey",
        (F.conv(F.substring(d, 1, 8), 16, 10).cast("long") % 9).cast("int").alias("pos"),
        (F.conv(F.substring(d, 9, 8), 16, 10).cast("long") % 9 + 1).cast("int").alias("shift"),
    )
    dirty = src.select(
        F.col("c_custkey").alias("d_key"),
        F.col("c_nationkey").alias("d_nation"),
        F.concat(
            F.expr("substring(c_name, 1, 9 + pos)"),
            ((F.expr("CAST(substring(c_name, 10 + pos, 1) AS INT)") + F.col("shift")) % 10).cast("string"),
            F.expr("substring(c_name, 11 + pos, 9)"),
        ).alias("d_name"),
    )
    clean = cust.select("c_custkey", "c_name", "c_nationkey")
    # two equi-key blocking passes (hash joins — an OR-of-equalities
    # join would degrade to a nested-loop), unioned then de-duplicated
    def _parity_keys(col: str):
        even = F.concat(*[F.substring(col, 10 + i, 1) for i in (0, 2, 4, 6, 8)])
        odd = F.concat(*[F.substring(col, 10 + i, 1) for i in (1, 3, 5, 7)])
        return {"blk_a": even, "blk_b": odd}

    # kept: q_record_linkage 0.96 s cut vs 1.84 s uncut, sf0.1 local[4]
    d_keys = dirty.withColumns(_parity_keys("d_name")).transform(cut)
    c_keys = clean.withColumns(_parity_keys("c_name"))
    cols = ["d_key", "d_name", "c_custkey", "c_name"]
    pass_a = d_keys.join(
        c_keys,
        (F.col("c_nationkey") == F.col("d_nation"))
        & (d_keys["blk_a"] == c_keys["blk_a"]),
    ).select(*cols)
    pass_b = d_keys.join(
        c_keys,
        (F.col("c_nationkey") == F.col("d_nation"))
        & (d_keys["blk_b"] == c_keys["blk_b"]),
    ).select(*cols)
    cand = pass_a.unionByName(pass_b).distinct()
    dist = F.levenshtein("d_name", "c_name")
    return cand.filter(dist <= 1).select(
        F.col("d_key").alias("dirty_custkey"),
        F.col("c_custkey").alias("matched_custkey"),
        dist.alias("dist"),
        (F.col("d_key") == F.col("c_custkey")).alias("is_true_match"),
    )

@register(
    "q_copurchase_pairs",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pc AS (SELECT l_partkey, COUNT(*) AS n FROM op GROUP BY l_partkey),
    no AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM op),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS support
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING COUNT(*) >= 2)
    SELECT p.part_a, p.part_b, p.support,
           ROUND(p.support * 1.0 * no.n_orders / (ca.n * cb.n) - 1e-9, 6) + 0 AS lift
    FROM pairs p
    JOIN pc ca ON ca.l_partkey = p.part_a
    JOIN pc cb ON cb.l_partkey = p.part_b
    CROSS JOIN no
    """,
)
def q_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs bought in the same order
    with support >= 2, scored by lift. The pair generation self-joins
    the distinct (order, part) frame ON THE ORDER KEY, so candidate
    volume is sum over orders of (items-per-order choose 2) — bounded
    by basket size, never |parts|^2; a pathological mega-basket is the
    hot-shingle situation and would take the same df-cap guard. Lift's
    scalar factors come from two broadcast-sized frames (per-part
    counts, 1-row order count)."""
    li = _t(spark, sf_dir, "lineitem")
    # kept: q_copurchase_pairs 1.95 s cut vs 2.39 s uncut, sf0.1 local[4]
    op = li.select("l_orderkey", "l_partkey").distinct().transform(cut)
    pc = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    n_orders = op.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    a = op.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = op.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, on="l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
    )
    return (
        pairs.join(
            F.broadcast(pc.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("_na"))),
            on="part_a",
        )
        .join(
            F.broadcast(pc.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("_nb"))),
            on="part_b",
        )
        .crossJoin(n_orders)  # 1-row scalar frame
        .select(
            "part_a", "part_b", "support",
            F.round(
                F.col("support") * F.col("n_orders").cast("double") / (F.col("_na") * F.col("_nb"))
                - 1e-9,
                6,
            ).alias("lift"),
        )
    )


# --- PageRank (fixed-iteration, IEEE-deterministic) --------------------------

_PR_DAMP = 0.85
_PR_ITERS = 3
_PR_N = 25  # nation count — the graph's node set


def _pr_sql() -> str:
    """Unrolled 3-iteration PageRank oracle. Per-target sums run
    SEQUENTIALLY over sources in ascending order (list_reduce over an
    ORDER BY src list), matching Spark's F.aggregate over an
    array_sort'ed collect_list — identical IEEE add order, so the raw
    doubles match bit-for-bit with no rounding slop."""
    base = f"(0.15 / {_PR_N})"
    cte = [
        """e AS (
        SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
               CAST(COUNT(*) AS DOUBLE) AS w
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        GROUP BY s.s_nationkey, c.c_nationkey)""",
        """p AS (SELECT src, dst, w / SUM(w) OVER (PARTITION BY src) AS p FROM e)""",
        f"""r0 AS (SELECT n_nationkey AS node, 1.0 / {_PR_N} AS r FROM nation)""",
    ]
    for t in range(_PR_ITERS):
        cte.append(f"""s{t} AS (
        SELECT p.dst AS node,
               list_reduce(list(r{t}.r * p.p ORDER BY p.src), (a, b) -> a + b) AS s
        FROM p JOIN r{t} ON r{t}.node = p.src GROUP BY p.dst)""")
        cte.append(f"""r{t + 1} AS (
        SELECT n.node, {base} + {_PR_DAMP} * COALESCE(s{t}.s, 0.0) AS r
        FROM r0 n LEFT JOIN s{t} USING (node))""")
    return (
        "WITH " + ",\n    ".join(cte) + f"""
    SELECT r.node, n.n_name, r.r AS pagerank
    FROM r{_PR_ITERS} r JOIN nation n ON n.n_nationkey = r.node"""
    )


@register("q_pagerank_trade", oracle=_pr_sql())
def q_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the nation trade graph (supplier
    nation -> customer nation, edge weight = lineitem count): the
    iterative-algorithm pattern as pure DataFrame ops. Edge derivation
    is the heavy distributed join; the 3 power iterations then run on
    the tiny aggregated edge frame. Cross-engine exactness WITHOUT
    rounding: per-target contributions are summed sequentially in
    ascending-source order (F.aggregate over a sorted array == DuckDB
    list_reduce over an ORDER BY list), so both engines perform the
    identical IEEE add sequence. Dangling nodes (no out-edges at tiny
    SFs) leak mass — standard taxation-free formulation, deterministic
    in both engines."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")

    e = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    wsum = Window.partitionBy("src")
    p = e.select("src", "dst", (F.col("w") / F.sum("w").over(wsum)).alias("p"))
    nodes = nation.select(F.col("n_nationkey").alias("node"))
    ranks = nodes.select("node", (F.lit(1.0) / _PR_N).alias("r"))
    base = F.lit(0.15) / _PR_N
    for _ in range(_PR_ITERS):
        contrib = p.join(ranks, p["src"] == ranks["node"]).select(
            "dst", "src", (F.col("r") * F.col("p")).alias("c")
        )
        summed = contrib.groupBy(F.col("dst").alias("node")).agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("src", "c"))),
                F.lit(0.0),
                lambda acc, x: acc + x["c"],
            ).alias("s")
        )
        ranks = nodes.join(summed, on="node", how="left").select(
            "node", (base + _PR_DAMP * F.coalesce(F.col("s"), F.lit(0.0))).alias("r")
        )
    return ranks.join(
        F.broadcast(nation), ranks["node"] == nation["n_nationkey"]
    ).select("node", "n_name", F.col("r").alias("pagerank"))

@register(
    "q_max_concurrency",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, ts,
               LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev_us
        FROM events),
    f AS (
        SELECT *, CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
                       THEN 1 ELSE 0 END AS is_new
        FROM e),
    g AS (
        SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
        FROM f),
    s AS (SELECT user_id, session_id, MIN(ts) AS st, MAX(ts) AS en
          FROM g GROUP BY user_id, session_id),
    d AS (SELECT st AS ts, 1 AS ns, 0 AS ne FROM s
          UNION ALL
          SELECT en, 0, 1 FROM s),
    p AS (SELECT ts, SUM(ns) AS n_start, SUM(ne) AS n_end FROM d GROUP BY ts),
    r AS (SELECT ts, n_start, n_end,
                 SUM(n_start - n_end) OVER (ORDER BY ts ROWS UNBOUNDED PRECEDING)
                     + n_end AS peak
          FROM p)
    SELECT date_trunc('day', ts) AS day,
           CAST(SUM(n_start) AS BIGINT) AS n_sessions_started,
           CAST(MAX(peak) AS BIGINT) AS max_concurrent
    FROM r GROUP BY 1
    """,
)
def q_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the sweep-line / interval-
    overlap aggregation (capacity planning over session intervals).
    Sessions (30-min gap islands) emit +1/-1 boundary deltas; deltas
    are pre-aggregated per DISTINCT timestamp (unique sort key, so the
    running sum is deterministic — no ROWS-frame tie ambiguity), and a
    session's start counts before any end at the same instant
    (inclusive overlap): peak(ts) = running_after(ts) + n_end(ts).
    The cumulative sum is TWO-PHASE like pack_sequences: a per-day
    local window plus a 30-row day-total prefix frame joined back as
    carry-in — no single task ever orders the whole timeline, the
    shape a 100x event stream requires (the oracle's single global
    window is the semantic spec, not the physical plan)."""
    from cpx_etl_spark.streaming.events import sessionize_batch

    ev = _t(spark, sf_dir, "events")
    s = sessionize_batch(ev)
    d = s.select(F.col("start_ts").alias("ts"), F.lit(1).alias("ns"), F.lit(0).alias("ne")).unionByName(
        s.select(F.col("end_ts").alias("ts"), F.lit(0).alias("ns"), F.lit(1).alias("ne"))
    )
    p = (
        d.groupBy("ts")
        .agg(F.sum("ns").alias("n_start"), F.sum("ne").alias("n_end"))
        .withColumn("day", F.date_trunc("day", "ts"))
    )
    w_local = (
        Window.partitionBy("day")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = p.withColumn("local_net", F.sum(F.col("n_start") - F.col("n_end")).over(w_local))
    day_tot = p.groupBy("day").agg(F.sum(F.col("n_start") - F.col("n_end")).alias("net"))
    w_days = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    carry = day_tot.select(
        "day", F.coalesce(F.sum("net").over(w_days), F.lit(0)).alias("carry")
    )
    peak = F.col("carry") + F.col("local_net") + F.col("n_end")
    return (
        p.join(F.broadcast(carry), on="day")
        .withColumn("peak", peak)
        .groupBy("day")
        .agg(
            F.sum("n_start").alias("n_sessions_started"),
            F.max("peak").alias("max_concurrent"),
        )
    )

@register(
    "q_trend_regression",
    oracle="""
    WITH b AS (
        SELECT o_orderpriority,
               CAST(epoch(o_orderdate) / 86400 AS BIGINT) AS x,
               o_totalprice AS y
        FROM orders),
    s AS (
        SELECT o_orderpriority, COUNT(*) AS n,
               SUM(x) AS sx,
               SUM(x * x) AS sxx,
               CAST(SUM(CAST(y AS DECIMAL(20,4))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x AS DECIMAL(20,4)) * CAST(y AS DECIMAL(20,4))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(y AS DECIMAL(20,4)) * CAST(y AS DECIMAL(20,4))) AS DOUBLE) AS syy
        FROM b GROUP BY o_orderpriority)
    SELECT o_orderpriority, n,
           ROUND((n * sxy - sx * sy) / (n * sxx - CAST(sx AS DOUBLE) * sx) - 1e-9, 6) + 0 AS slope,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - CAST(sx AS DOUBLE) * sx) * sx) / n - 1e-9, 4) + 0 AS intercept,
           ROUND((n * sxy - sx * sy)
                 / sqrt((n * sxx - CAST(sx AS DOUBLE) * sx) * (n * syy - sy * sy)) - 1e-9, 6) + 0 AS pearson_r
    FROM s
    """,
)
def q_trend_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group OLS trend (price over time) + Pearson r from the
    normal equations: the five moment sums accumulate EXACTLY (integer
    x / decimal y products — order-independent, unlike the engines'
    native regr_slope/corr which sum floats in partition order), then
    the closed-form slope/intercept/r are per-row IEEE arithmetic.
    One aggregation pass, map-side partials, any scale. The n*sxx
    second-moment product is exact DECIMAL(38,0) before its one cast
    to double (sf1 smoke, r9: as long*long it overflows at ~10x sf0.1
    — DuckDB never did, its SUM(BIGINT) is already HUGEINT, so the
    engines diverged: Spark threw, the oracle answered)."""
    orders = _t(spark, sf_dir, "orders")
    b = orders.select(
        "o_orderpriority",
        (F.unix_timestamp("o_orderdate") / 86400).cast("long").alias("x"),
        F.col("o_totalprice").alias("y"),
    )
    yd = F.col("y").cast("decimal(20,4)")
    xd = F.col("x").cast("decimal(20,4)")
    s = b.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(xd * yd).cast("double").alias("sxy"),
        F.sum(yd * yd).cast("double").alias("syy"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy, sxy, syy = F.col("sy"), F.col("sxy"), F.col("syy")
    cov_n = n * sxy - sx * sy
    var_n = (n.cast("decimal(38,0)") * sxx).cast("double") - sx.cast(
        "double"
    ) * sx
    slope = cov_n / var_n
    return s.select(
        "o_orderpriority", "n",
        fround(slope, 6).alias("slope"),
        fround((sy - slope * sx) / n, 4).alias("intercept"),
        fround(cov_n / F.sqrt(var_n * (n * syy - sy * sy)), 6).alias("pearson_r"),
    )


@register(
    "q_event_transitions",
    oracle="""
    WITH seq AS (
        SELECT event_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events),
    c AS (SELECT event_type, next_type, COUNT(*) AS n
          FROM seq WHERE next_type IS NOT NULL
          GROUP BY event_type, next_type),
    t AS (SELECT event_type, SUM(n) AS tot FROM c GROUP BY event_type)
    SELECT c.event_type, c.next_type, c.n,
           ROUND(c.n * 1.0 / t.tot - 1e-9, 6) + 0 AS prob
    FROM c JOIN t USING (event_type)
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (the behavioral-path analytic): one user-partitioned
    lead() window, one pair-count aggregation, row probabilities from
    the per-source totals (a #event-types-row broadcast frame)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    c = seq.groupBy("event_type", "next_type").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("event_type").agg(F.sum("n").alias("tot"))
    return (
        c.join(F.broadcast(t), on="event_type")
        .select(
            "event_type", "next_type", "n",
            F.round(F.col("n") / F.col("tot") - 1e-9, 6).alias("prob"),
        )
    )

@register(
    "q_ab_test",
    oracle="""
    WITH a AS (
        SELECT CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
                    THEN 'A' ELSE 'B' END AS arm,
               value
        FROM events WHERE event_type = 'purchase'),
    s AS (
        SELECT arm, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(value AS DECIMAL(20,4)) * CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS syy
        FROM a GROUP BY arm)
    SELECT arm, n,
           ROUND(sy / n - 1e-9, 6) + 0 AS mean_value,
           ROUND((syy - sy * sy / n) / (n - 1) - 1e-9, 6) + 0 AS var_value,
           ROUND((sy / n - (SELECT sy / n FROM s WHERE arm = 'B'))
                 / sqrt((syy - sy * sy / n) / (n - 1) / n
                        + (SELECT (syy - sy * sy / n) / (n - 1) / n FROM s WHERE arm = 'B'))
                 - 1e-9, 6) + 0 AS t_vs_b
    FROM s
    """,
)
def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users hash-split into two arms (md5
    parity — the same deterministic assignment any engine replays),
    per-arm mean/variance from exact decimal sums, and the Welch
    t-statistic of each arm against arm B (arm B's scalar moments
    broadcast as a 1-row frame). The row set is per-arm so the frame
    doubles as the experiment dashboard; B's own t_vs_b row is 0 by
    construction."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    arm = F.when(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 2 == 0,
        "A",
    ).otherwise("B")
    yd = F.col("value").cast("decimal(20,4)")
    s = ev.select(arm.alias("arm"), "value").groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(yd * yd).cast("double").alias("syy"),
    )
    n, sy, syy = F.col("n"), F.col("sy"), F.col("syy")
    mean = sy / n
    var = (syy - sy * sy / n) / (n - 1)
    b = s.filter(F.col("arm") == "B").select(
        (F.col("sy") / F.col("n")).alias("_mean_b"),
        ((F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")) / (F.col("n") - 1) / F.col("n")).alias("_se2_b"),
    )
    return (
        s.crossJoin(F.broadcast(b))  # 1-row scalar frame
        .select(
            "arm", "n",
            fround(mean, 6).alias("mean_value"),
            fround(var, 6).alias("var_value"),
            fround(
                (mean - F.col("_mean_b")) / F.sqrt(var / n + F.col("_se2_b")), 6
            ).alias("t_vs_b"),
        )
    )

@register(
    "q_skew_report",
    oracle="""
    WITH ok AS (SELECT l_orderkey AS key, COUNT(*) AS n FROM lineitem GROUP BY 1),
    pk AS (SELECT l_partkey AS key, COUNT(*) AS n FROM lineitem GROUP BY 1),
    okt AS (SELECT 'l_orderkey' AS join_key, key, n,
                   ROW_NUMBER() OVER (ORDER BY n DESC, key) AS rk,
                   COUNT(*) OVER () AS n_keys, SUM(n) OVER () AS n_rows
            FROM ok),
    pkt AS (SELECT 'l_partkey' AS join_key, key, n,
                   ROW_NUMBER() OVER (ORDER BY n DESC, key) AS rk,
                   COUNT(*) OVER () AS n_keys, SUM(n) OVER () AS n_rows
            FROM pk),
    u AS (SELECT * FROM okt WHERE rk <= 5 UNION ALL SELECT * FROM pkt WHERE rk <= 5)
    SELECT join_key, CAST(rk AS INT) AS hot_rank, key AS hot_key, n AS key_rows,
           CAST(n_keys AS BIGINT) AS n_keys,
           ROUND(n * 1.0 * n_keys / n_rows - 1e-9, 4) + 0 AS skew_factor
    FROM u
    """,
)
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic — the pre-flight check that decides
    between a plain shuffle join, AQE skew splitting, and explicit
    salting (operators/skew.py): per candidate join key, the 5 hottest
    values with their frequency and skew factor (key rows / mean rows
    per key). One count aggregation per key column; the rank/total
    windows run over the per-key COUNT frame, never the raw table."""
    li = _t(spark, sf_dir, "lineitem")
    out = None
    for col in ("l_orderkey", "l_partkey"):
        cnt = li.groupBy(F.col(col).alias("hot_key")).agg(
            F.count(F.lit(1)).alias("key_rows")
        )
        # top-5 via orderBy+limit => distributed TakeOrdered, never a
        # global row_number sort over the |keys|-sized count frame
        top5 = cnt.orderBy(F.col("key_rows").desc(), F.col("hot_key")).limit(5)
        totals = cnt.agg(
            F.count(F.lit(1)).alias("n_keys"), F.sum("key_rows").alias("n_rows")
        )
        w_rank = Window.orderBy(F.col("key_rows").desc(), F.col("hot_key"))
        frame = (
            top5.withColumn("hot_rank", F.row_number().over(w_rank))  # 5-row frame
            .crossJoin(F.broadcast(totals))  # 1-row scalar frame
            .select(
                F.lit(col).alias("join_key"),
                F.col("hot_rank").cast("int").alias("hot_rank"),
                "hot_key", "key_rows", "n_keys",
                F.round(
                    F.col("key_rows") * F.col("n_keys") / F.col("n_rows") - 1e-9, 4
                ).alias("skew_factor"),
            )
        )
        out = frame if out is None else out.unionByName(frame)
    return out

@register(
    "q_conversion_latency",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts AS p_ts
               FROM events WHERE event_type = 'purchase'),
    la AS (SELECT p.event_id, p.p_ts, MAX(c.ts) AS c_ts
           FROM p JOIN events c
             ON c.event_type = 'click' AND c.user_id = p.user_id
            AND c.ts <= p.p_ts AND c.ts > p.p_ts - INTERVAL 1 HOUR
           GROUP BY p.event_id, p.p_ts),
    lat AS (SELECT date_trunc('day', p_ts) AS day,
                   (epoch_us(p_ts) - epoch_us(c_ts)) / 1000000.0 AS sec
            FROM la)
    SELECT day, COUNT(*) AS n_attributed,
           ROUND(quantile_cont(sec, 0.5) - 1e-9, 3) + 0 AS p50_sec,
           ROUND(quantile_cont(sec, 0.9) - 1e-9, 3) + 0 AS p90_sec
    FROM lat GROUP BY day
    """,
)
def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click-to-purchase latency percentiles per day — the funnel's
    'how fast' companion to q_attribution_last_touch's 'how much':
    same time-banded join + max-reduce picks the last touch, then
    exact interpolated p50/p90 over the integer-microsecond latencies
    (sort-based, cross-engine identical; float division by 1e6 is one
    IEEE op per row)."""
    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    la = (
        p.join(
            c,
            (F.col("c_user") == F.col("user_id"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        )
        .groupBy("event_id", "p_ts")
        .agg(F.max("c_ts").alias("c_ts"))
    )
    sec = (F.unix_micros("p_ts") - F.unix_micros("c_ts")) / 1000000.0
    return (
        la.select(F.date_trunc("day", "p_ts").alias("day"), sec.alias("sec"))
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_attributed"),
            fround(F.percentile(F.col("sec"), F.lit(0.5)), 3).alias("p50_sec"),
            fround(F.percentile(F.col("sec"), F.lit(0.9)), 3).alias("p90_sec"),
        )
    )


@register(
    "q_value_histogram",
    oracle="""
    WITH v AS (SELECT value FROM events WHERE event_type = 'purchase'),
    b AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM v),
    binned AS (
        SELECT CASE WHEN hi = lo THEN 0
                    ELSE LEAST(19, GREATEST(0,
                         CAST(floor((value - lo) / ((hi - lo) / 20))
                              AS INTEGER))) END AS bin, lo, hi
        FROM v, b)
    SELECT bin,
           ROUND(lo + bin * ((hi - lo) / 20) - 1e-9, 6) + 0 AS bin_lo,
           COUNT(*) AS n
    FROM binned GROUP BY bin, lo, hi
    """,
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of purchase values: 20 bins between the
    observed min/max (1-row bounds frame broadcast back over one scan
    — the two-pass histogram every profiler runs). Bin assignment is
    floor of identical IEEE arithmetic in both engines; the top edge
    clamps into the last bin."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    v = ev.select("value")
    b = v.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / 20
    # degenerate distribution (hi == lo) puts everything in bin 0
    # instead of dividing by zero
    bin_ = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(
            F.lit(19),
            F.greatest(
                F.lit(0), F.floor((F.col("value") - F.col("lo")) / width).cast("int")
            ),
        )
    )
    return (
        v.crossJoin(F.broadcast(b))  # 1-row bounds frame
        .select(bin_.alias("bin"), "lo", "hi")
        .groupBy("bin", "lo", "hi")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bin",
            # parenthesized ((hi-lo)/20) to match the oracle's IEEE
            # association exactly (ADVICE r6): bin*((hi-lo)/20), not
            # (bin*(hi-lo))/20
            F.round(F.col("lo") + F.col("bin") * ((F.col("hi") - F.col("lo")) / 20) - 1e-9, 6).alias("bin_lo"),
            "n",
        )
    )


@register(
    "q16_supplier_part_counts",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type NOT LIKE 'STANDARD%'
      AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34, 49)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    LIMIT 40
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 adapted to this schema (no partsupp table: supplier
    availability comes from shipped lineitems; negative-balance
    suppliers stand in for the complaints NOT IN subquery): distinct
    supplier counts per (brand, type, size) bucket over an anti-joined
    exclusion list. Scale shape: the exclusion list is a tiny dim —
    broadcast anti-join, no shuffle of the fact side for it; the
    distinct-count aggregates partial per partition before the single
    (brand,type,size) shuffle. Parity: the reference's applyView with
    negated predicates (src/main/etl.js:472-491) only composes equality
    includes — this is the relational surface it delegates to SQL."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey")
    )
    sizes = [1, 4, 9, 14, 19, 24, 29, 34, 49]
    p = part.filter(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").startswith("STANDARD")
        & F.col("p_size").isin(sizes)
    )
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
        .limit(40)
    )


@register(
    "q21_waiting_suppliers",
    oracle="""
    WITH order_stats AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) AS n_supp,
             COUNT(DISTINCT CASE
               WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
               THEN l_suppkey END) AS n_late
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'F'
      GROUP BY l_orderkey
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM (
      SELECT DISTINCT l.l_orderkey, l.l_suppkey
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    ) late
    JOIN order_stats os ON os.l_orderkey = late.l_orderkey
    JOIN supplier ON s_suppkey = late.l_suppkey
    WHERE os.n_supp > 1 AND os.n_late = 1
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 25
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 adapted (no l_receiptdate/l_commitdate in this
    schema: 'late' is shipping >60 days after the order date):
    suppliers who were the SOLE late supplier on a finished
    multi-supplier order. The spec's correlated EXISTS / NOT EXISTS
    pair is re-expressed as one order-level aggregate (distinct
    suppliers, distinct late suppliers) joined back — each exists
    probe would re-scan lineitem per row at 100 TB, while this
    formulation is two shuffles total (order rollup + supplier count),
    and the order_stats frame it joins is pre-aggregated
    (order-cardinality, not line-cardinality)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    supplier = _t(spark, sf_dir, "supplier")
    lo = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).alias("is_late"),
    )
    # ONE (order, supplier) rollup feeds both the order stats and the
    # late set: max(is_late) per (order, supp) makes both downstream
    # frames plain aggregates/filters of the same reduction
    # kept: q21_waiting_suppliers 1.07 s cut vs 1.26 s uncut, sf0.1 local[4]
    os2 = (
        lo.groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("is_late").alias("late"))
        .transform(cut)
    )
    order_stats = os2.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum(F.col("late").cast("int")).alias("n_late"),
    )
    late = os2.filter(F.col("late")).select("l_orderkey", "l_suppkey")
    return (
        late.join(order_stats, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(25)
    )


@register(
    "q_session_paths",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                    OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS sess_no
      FROM ordered
    ),
    ranked AS (
      SELECT user_id, sess_no, event_type,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, sess_no ORDER BY ts, event_id
             ) AS rn
      FROM sess
    ),
    paths AS (
      SELECT user_id, sess_no,
             STRING_AGG(event_type, '>' ORDER BY rn) AS path
      FROM ranked WHERE rn <= 3
      GROUP BY user_id, sess_no
    )
    SELECT path, COUNT(*) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 20
    """,
)
def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top session-opening paths: sessionize by 30-min gap (the same
    lag/cumsum construction as stream_sessionize), take each session's
    first 3 event types in time order, count sessions per path string.
    The windows are all user-partitioned (no global ordering); the
    path build is slice(sort_array(collect_list(struct))) — one
    aggregate, no second window pass. Ties broken by event_id so the
    selected triple is deterministic cross-engine."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sess = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_sess",
            (
                F.col("prev_ts").isNull()
                # integer MICROSECONDS, not seconds-truncated casts —
                # a gap in (1800s, 1801s) would otherwise split in the
                # oracle but not here (code-review r7)
                | (
                    F.unix_micros("ts") - F.unix_micros("prev_ts")
                    > 1_800_000_000
                )
            ).cast("int"),
        )
        .withColumn(
            "sess_no",
            F.sum("new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    paths = (
        sess.groupBy("user_id", "sess_no")
        .agg(
            F.concat_ws(
                ">",
                F.slice(
                    F.transform(
                        F.sort_array(
                            F.collect_list(
                                F.struct("ts", "event_id", "event_type")
                            )
                        ),
                        lambda s: s["event_type"],
                    ),
                    1,
                    3,
                ),
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(20)
    )


@register(
    "q_props_json_stats",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           COUNT(CASE WHEN k_val IS NULL THEN 1 END) AS n_null,
           CAST(SUM(k_val) AS BIGINT) AS sum_k,
           MIN(k_val) AS min_k, MAX(k_val) AS max_k
    FROM (
      SELECT event_type,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k_val
      FROM events
    )
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_props_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column extraction: the events.props JSON string
    parses with a TYPED from_json schema (not get_json_object string
    plucking — a typed parse is one pass and prunes to the referenced
    field), then plain grouped stats over the extracted value. The
    integer domain keeps SUM exact cross-engine without the decimal
    dance. At scale the parse is JVM-side Jackson inside codegen;
    schema-on-read with a declared schema is the production posture
    for raw JSON columns (reference badgerfish/applySchema territory:
    etl.js:191-322 coerces typed fields the same way)."""
    ev = _t(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type",
        F.from_json(F.col("props"), "k BIGINT").getField("k").alias("k_val"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("k_val").isNull(), 1)).alias("n_null"),
            F.sum("k_val").alias("sum_k"),
            F.min("k_val").alias("min_k"),
            F.max("k_val").alias("max_k"),
        )
        .orderBy("event_type")
    )


@register(
    "q_props_variant",
    oracle="""
    SELECT k // 10 AS k_decade,
           COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users,
           MIN(k) AS min_k, MAX(k) AS max_k
    FROM (
      SELECT user_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
      FROM events
    )
    WHERE k IS NOT NULL
    GROUP BY k // 10
    ORDER BY k_decade
    """,
)
def q_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion via the VARIANT type (Spark 4):
    parse_json keeps the document in Spark's binary variant encoding
    (no up-front schema — the open-schema posture for heterogeneous
    JSON at scale, where from_json's declared schema would silently
    null unexpected shapes), try_variant_get extracts typed paths
    lazily. Same aggregate as a typed extraction would produce, so the
    DuckDB oracle (json_extract) doubles as an agreement proof between
    the VARIANT and schema'd ingestion modes."""
    ev = _t(spark, sf_dir, "events")
    parsed = ev.select(
        "user_id",
        F.try_variant_get(F.parse_json("props"), "$.k", "bigint").alias("k"),
    )
    return (
        parsed.filter(F.col("k").isNotNull())
        .groupBy(F.floor(F.col("k") / 10).cast("long").alias("k_decade"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("k_decade")
    )


@register(
    "q_interval_union",
    oracle="""
    WITH iv AS (
      SELECT user_id, event_id,
             epoch_us(ts) AS s,
             epoch_us(ts) + CAST(TRUNC(value) AS BIGINT) * 60000000 AS e
      FROM events),
    marked AS (
      SELECT user_id, event_id, s, e,
             CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       IS NULL
                    OR s > MAX(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_island
      FROM iv),
    islands AS (
      SELECT user_id, s, e,
             SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                                   ROWS UNBOUNDED PRECEDING) AS island
      FROM marked),
    merged AS (
      SELECT user_id, island, MIN(s) AS is_, MAX(e) AS ie
      FROM islands GROUP BY user_id, island)
    SELECT user_id,
           COUNT(*) AS n_islands,
           CAST(SUM(ie - is_) // 1000000 AS BIGINT) AS covered_seconds
    FROM merged
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval union via the islands construction (the sweep-line
    'total covered time' primitive behind ad-exposure, machine-uptime
    and on-call coverage metrics): each event opens a [ts, ts +
    trunc(value) minutes] interval; overlapping-or-touching intervals
    merge into islands (an interval starts a new island iff it begins
    after the running max end of everything before it), union length =
    sum of island extents. All windows are user-partitioned; the
    arithmetic is integer microseconds end-to-end, so the result is
    exact in both engines."""
    ev = _t(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s"),
        (
            F.unix_micros("ts")
            + F.expr("CAST(value AS BIGINT)") * 60_000_000
        ).alias("e"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "e", "event_id")
    runmax = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    marked = iv.withColumn(
        "new_island",
        (runmax.isNull() | (F.col("s") > runmax)).cast("int"),
    )
    w2 = Window.partitionBy("user_id").orderBy("s", "e", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    islands = marked.withColumn("island", F.sum("new_island").over(w2))
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("is_"), F.max("e").alias("ie")
    )
    return (
        merged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.floor(F.sum(F.col("ie") - F.col("is_")) / 1_000_000).alias(
                "covered_seconds"
            ),
        )
        .orderBy("user_id")
    )


@register(
    "q_triangle_count",
    oracle="""
    WITH pairs AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_partkey <= 200) a
      JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_partkey <= 200) b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING COUNT(*) >= 2),
    tri AS (
      SELECT e1.u AS x, e1.v AS y, e2.v AS z
      FROM pairs e1
      JOIN pairs e2 ON e2.u = e1.v
      JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v)
    SELECT (SELECT COUNT(*) FROM pairs) AS n_edges,
           (SELECT COUNT(*) FROM tri) AS n_triangles,
           (SELECT COUNT(DISTINCT x) FROM (SELECT x FROM tri UNION ALL
                                           SELECT y FROM tri UNION ALL
                                           SELECT z FROM tri) t(x)) AS n_tri_nodes
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the co-purchase graph (edges = part pairs
    sharing >= 2 orders, bounded to a 200-part projection so the demo
    graph is dense enough to close triangles): the oriented-edge
    formulation — every edge stored once as u < v, a triangle is
    e1=(x,y), e2=(y,z), e3=(x,z) — counts each triangle exactly once
    with two joins, the standard distributed formulation (vs the
    naive symmetric join that counts 6x and doubles the shuffle).
    Completes the graph family next to connected components
    (dedup_clusters) and PageRank (q_pagerank_trade)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_partkey") <= 200)
    op = li.select("l_orderkey", "l_partkey").distinct()
    a = op.select(F.col("l_orderkey"), F.col("l_partkey").alias("u"))
    b = op.select(F.col("l_orderkey"), F.col("l_partkey").alias("v"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("supp"))
        .filter(F.col("supp") >= 2)
        .select("u", "v")
    )
    e1 = pairs.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = pairs.select(F.col("u").alias("y"), F.col("v").alias("z"))
    e3 = pairs.select(F.col("u").alias("x"), F.col("v").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    n_edges = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    n_tri = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    nodes = (
        tri.select(F.col("x").alias("n"))
        .unionAll(tri.select(F.col("y").alias("n")))
        .unionAll(tri.select(F.col("z").alias("n")))
        .agg(F.countDistinct("n").alias("n_tri_nodes"))
    )
    return n_edges.crossJoin(n_tri).crossJoin(nodes)  # three 1-row frames


@register(
    "q_clustering_coefficient",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey
                FROM lineitem WHERE l_partkey <= 200),
    pairs AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                           AND b.l_partkey > a.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
            SELECT u AS node FROM pairs
            UNION ALL SELECT v AS node FROM pairs)
        GROUP BY 1),
    tri AS (
        SELECT e1.u AS x, e1.v AS y, e2.v AS z
        FROM pairs e1
        JOIN pairs e2 ON e2.u = e1.v
        JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v),
    tn AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
            SELECT x AS node FROM tri
            UNION ALL SELECT y AS node FROM tri
            UNION ALL SELECT z AS node FROM tri)
        GROUP BY 1)
    SELECT d.node, d.degree,
           COALESCE(t.triangles, 0) AS triangles,
           ROUND(2.0 * COALESCE(t.triangles, 0)
                 / (d.degree * (d.degree - 1)) - 1e-9, 6) + 0 AS cc
    FROM deg d LEFT JOIN tn t USING (node)
    WHERE d.degree >= 2
    ORDER BY cc DESC, d.node
    """,
)
def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL CLUSTERING COEFFICIENT per node of the co-purchase graph
    (same 200-part-projection, support >= 2 edge set as
    q_triangle_count — the graph family's density measure beside
    triangle totals, components, PageRank and k-hop): cc(v) =
    2 * triangles(v) / (deg(v) * (deg(v) - 1)) for deg >= 2. Per-node
    triangle counts come from the oriented-edge (u < v) two-join
    formulation — each triangle found once, credited to all three
    corners by a 3-way explode — so the pair volume is the
    edge-join bound, never all-pairs. Degrees from one edge-list
    explode. Counts integer-exact; cc is one IEEE division,
    tie-rounded."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_partkey") <= 200)
    op = li.select("l_orderkey", "l_partkey").distinct()
    a = op.select(F.col("l_orderkey"), F.col("l_partkey").alias("u"))
    b = op.select(F.col("l_orderkey"), F.col("l_partkey").alias("v"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("supp"))
        .filter(F.col("supp") >= 2)
        .select("u", "v")
    )
    deg = (
        pairs.select(F.col("u").alias("node"))
        .unionAll(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    e1 = pairs.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = pairs.select(F.col("u").alias("y"), F.col("v").alias("z"))
    e3 = pairs.select(F.col("u").alias("x"), F.col("v").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    tn = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.join(tn, "node", "left")
        .filter(F.col("degree") >= 2)
        .select(
            "node", "degree",
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
            fround(
                2.0 * F.coalesce("triangles", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ).alias("cc"),
        )
        .orderBy(F.col("cc").desc(), "node")
    )


@register(
    "q_approx_quantile_hist",
    oracle="""
    WITH b AS (
      SELECT LEAST(255, CAST(FLOOR(o_totalprice / 2500.0) AS INTEGER)) AS bin,
             COUNT(*) AS n
      FROM orders GROUP BY 1),
    tot AS (SELECT SUM(n) AS total FROM b),
    cum AS (
      SELECT bin, n,
             SUM(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cn
      FROM b),
    est AS (
      SELECT q.p,
             MIN(bin) AS qbin
      FROM cum, tot, (VALUES (0.5), (0.9), (0.99)) q(p)
      WHERE cn >= p * total
      GROUP BY q.p)
    SELECT p AS quantile,
           CAST(qbin AS BIGINT) AS bin,
           ROUND(qbin * 2500.0 + 1250.0, 2) AS estimate
    FROM est
    ORDER BY p
    """,
)
def q_approx_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE quantile estimation via a fixed-boundary histogram
    (256 bins of 2,500 over the known price domain): bin counts are
    additive across partitions/days/retries — the property exact
    sort-based percentiles lack and the reason production percentile
    serving pre-aggregates histograms. The estimate (bin midpoint at
    the cumulative-count crossing) is a pure function of the counts,
    so both engines produce bit-identical estimates — the
    approximation itself is hash-verified, like SQ8/PQ. Exact
    percentiles for the same table live in q_percentile_stats; this is
    the at-scale twin. The cumulative window runs over the 256-row
    bins frame, not the corpus."""
    orders = _t(spark, sf_dir, "orders")
    bins = (
        orders.select(
            F.least(
                F.lit(255), F.floor(F.col("o_totalprice") / 2500.0).cast("int")
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = bins.withColumn("cn", F.sum("n").over(w))
    tot = bins.agg(F.sum("n").alias("total"))
    qs = local_frame(spark, [(0.5,), (0.9,), (0.99,)], "p double")
    est = (
        cum.crossJoin(F.broadcast(tot))  # 256-row frame x 1-row total
        .join(F.broadcast(qs), F.col("cn") >= F.col("p") * F.col("total"))
        .groupBy("p")
        .agg(F.min("bin").alias("qbin"))
    )
    return est.select(
        F.col("p").alias("quantile"),
        F.col("qbin").cast("bigint").alias("bin"),
        F.round(F.col("qbin") * 2500.0 + 1250.0, 2).alias("estimate"),
    ).orderBy("quantile")


@register(
    "q_fixed_size_sample",
    oracle="""
    SELECT doc_id, source
    FROM (SELECT doc_id, source,
                 ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
          FROM documents)
    WHERE rn <= 100
    ORDER BY doc_id
    """,
)
def q_fixed_size_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-SIZE uniform sample (exactly k=100 rows): global top-k by
    md5 rank — the single-pass bounded-memory construction that
    replaces reservoir sampling in a distributed engine (each
    partition keeps its local top-k, the merge keeps the global; Spark
    plans exactly that via TakeOrderedAndProject, no full sort, no
    second pass to fix a rate-based sample's size). Deterministic and
    hash-verified; the rate-based twins are q_deterministic_sample /
    q_stratified_sample."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id", "source",
            F.md5(F.col("doc_id").cast("string")).alias("_h"),
        )
        .orderBy("_h", "doc_id")
        .limit(100)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


@register(
    "q_event_pattern_cep",
    oracle="""
    WITH v AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'),
    p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
    err AS (SELECT user_id, ts FROM events WHERE event_type = 'error'),
    pv AS (
      SELECT p.user_id, p.event_id AS purchase_id, p.ts AS p_ts,
             MAX(v.ts) AS v_ts
      FROM p JOIN v ON v.user_id = p.user_id
       AND v.ts <= p.ts
       AND v.ts >= p.ts - INTERVAL 1 HOUR
      GROUP BY p.user_id, p.event_id, p.ts),
    clean AS (
      SELECT pv.user_id, pv.purchase_id
      FROM pv
      WHERE NOT EXISTS (
        SELECT 1 FROM err e
        WHERE e.user_id = pv.user_id
          AND e.ts > pv.v_ts AND e.ts < pv.p_ts))
    SELECT user_id, COUNT(*) AS n_patterns
    FROM clean GROUP BY user_id
    ORDER BY user_id
    """,
)
def q_event_pattern_cep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing pattern match (the MATCH_RECOGNIZE gap:
    'view, then purchase within 1 h, with NO error between them'):
    the A-step binds to the LATEST qualifying view per purchase (one
    banded join + max, the as-of construction), the no-C condition is
    a time-banded anti-join against the error stream — three
    user-keyed joins, no per-row state machine, which is how CEP
    compiles onto a relational engine at scale (the row-at-a-time
    NFA formulation would serialize per user)."""
    ev = _t(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("vu"), F.col("ts").alias("v_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    err = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("eu"), F.col("ts").alias("e_ts")
    )
    pv = (
        p.join(
            v,
            (F.col("vu") == F.col("user_id"))
            & (F.col("v_ts") <= F.col("p_ts"))
            & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        )
        .groupBy("user_id", "purchase_id", "p_ts")
        .agg(F.max("v_ts").alias("v_ts"))
    )
    clean = pv.join(
        err,
        (F.col("eu") == F.col("user_id"))
        & (F.col("e_ts") > F.col("v_ts"))
        & (F.col("e_ts") < F.col("p_ts")),
        "left_anti",
    )
    return (
        clean.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_patterns"))
        .orderBy("user_id")
    )


@register(
    "q_window_functions_suite",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(PERCENT_RANK() OVER w - 1e-9, 6) + 0 AS pr,
           ROUND(CUME_DIST() OVER w - 1e-9, 6) + 0 AS cd,
           FIRST_VALUE(o_orderkey) OVER w AS first_ok,
           NTH_VALUE(o_orderkey, 2) OVER w AS second_ok,
           LAST_VALUE(o_orderkey) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS last_ok
    FROM orders
    WHERE o_custkey < 200
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderkey
    """,
)
def q_window_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining analytic window functions in one frame:
    percent_rank / cume_dist (rank statistics), first_value /
    nth_value (default running frame), and last_value over the
    explicit UNBOUNDED FOLLOWING frame — the classic last_value trap:
    with the default frame it returns the CURRENT row, so the frame
    must be widened in both engines identically. Unique (date, key)
    ordering keeps every rank statistic deterministic."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        fround(F.percent_rank().over(w), 6).alias("pr"),
        fround(F.cume_dist().over(w), 6).alias("cd"),
        F.first("o_orderkey").over(w).alias("first_ok"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_ok"),
        F.last("o_orderkey").over(w_full).alias("last_ok"),
    ).orderBy("o_custkey", "o_orderkey")


@register(
    "q_gini_revenue",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS rev
      FROM orders GROUP BY o_custkey),
    ranked AS (
      SELECT rev, ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS i
      FROM per_cust),
    agg AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(rev) AS DOUBLE) AS total,
             CAST(SUM(CAST(i AS DECIMAL(20,0)) * rev) AS DOUBLE) AS weighted
      FROM ranked)
    SELECT n,
           ROUND(2.0 * weighted / (n * total) - (n + 1.0) / n - 1e-9, 6) + 0
             AS gini
    FROM agg
    """,
)
def q_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration (the
    inequality metric behind 'top 1% of customers drive X%' heat-map
    dashboards): G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over
    ascending-sorted revenues. The global rank runs over the
    PER-CUSTOMER aggregate (customer-cardinality, not order
    cardinality); revenues and the rank-weighted sum accumulate as
    exact DECIMAL, so the only IEEE ops are the final two divisions —
    identical in both engines."""
    orders = _t(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(20,4)")).alias("rev")
    )
    w = Window.orderBy("rev", "o_custkey")
    ranked = per_cust.select(
        "rev", F.row_number().over(w).cast("long").alias("i")
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rev").cast("double").alias("total"),
        F.sum(F.col("i").cast("decimal(20,0)") * F.col("rev"))
        .cast("double")
        .alias("weighted"),
    )
    return agg.select(
        "n",
        fround(
            2.0 * F.col("weighted") / (F.col("n") * F.col("total"))
            - (F.col("n") + 1.0) / F.col("n"),
            6,
        ).alias("gini"),
    )


@register(
    "q_ewma_daily_counts",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    lagged AS (
      SELECT d.event_type, d.day,
             l.n AS n_l,
             DATEDIFF('day', l.day, d.day) AS lag
      FROM daily d
      JOIN daily l ON l.event_type = d.event_type
       AND l.day <= d.day AND l.day >= d.day - 7)
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           ROUND(SUM(n_l * POW(0.5, lag)) / SUM(POW(0.5, lag)) - 1e-9, 6) + 0
             AS ewma
    FROM lagged
    GROUP BY event_type, day
    ORDER BY event_type, day
    """,
)
def q_ewma_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of daily event counts
    (half-life 1 day, trailing 8-day support) — the smoothing behind
    every anomaly-detection baseline. alpha = 1/2 is chosen so every
    weight 2^-lag is EXACTLY representable and every product
    n * 2^-lag is an exact dyadic double: the sums carry no rounding
    error in ANY order, so the statistic is bit-identical cross-engine
    without the decimal dance — the one alpha where IEEE float EWMA is
    exact. The lag join fans out 8x on the (type, day)-cardinality
    aggregate, never the event table."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    d = daily.select("event_type", "day")
    l = daily.select(
        F.col("event_type").alias("et"), F.col("day").alias("lday"), F.col("n")
    )
    lagged = d.join(
        l,
        (F.col("et") == F.col("event_type"))
        & (F.col("lday") <= F.col("day"))
        & (F.col("lday") >= F.date_sub(F.col("day"), 7)),
    ).select(
        "event_type",
        "day",
        "n",
        F.datediff(F.col("day"), F.col("lday")).alias("lag"),
    )
    return (
        lagged.groupBy("event_type", F.date_format("day", "yyyy-MM-dd").alias("day"))
        .agg(
            fround(
                F.sum(F.col("n") * F.pow(F.lit(0.5), F.col("lag")))
                / F.sum(F.pow(F.lit(0.5), F.col("lag"))),
                6,
            ).alias("ewma")
        )
        .orderBy("event_type", "day")
    )


@register(
    "q_dau_wau_mau",
    oracle="""
    WITH ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events),
    days AS (SELECT DISTINCT date_trunc('day', ts) AS day FROM events),
    dau AS (SELECT d AS day, COUNT(DISTINCT user_id) AS dau FROM ud GROUP BY d),
    wau AS (
      SELECT c.day, COUNT(DISTINCT c.user_id) AS wau
      FROM (SELECT user_id, d + to_days(CAST(gs.i AS INTEGER)) AS day
            FROM ud, generate_series(0, 6) gs(i)) c
      JOIN days USING (day) GROUP BY c.day),
    mau AS (
      SELECT c.day, COUNT(DISTINCT c.user_id) AS mau
      FROM (SELECT user_id, d + to_days(CAST(gs.i AS INTEGER)) AS day
            FROM ud, generate_series(0, 27) gs(i)) c
      JOIN days USING (day) GROUP BY c.day)
    SELECT d.day, d.dau, w.wau, m.mau,
           ROUND(d.dau * 1.0 / m.mau - 1e-9, 6) + 0 AS stickiness
    FROM dau d JOIN wau w USING (day) JOIN mau m USING (day)
    ORDER BY d.day
    """,
)
def q_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The product-analytics staple: DAU / exact trailing-7-day WAU /
    exact trailing-28-day MAU / DAU-over-MAU stickiness per day. Both
    rolling distincts use the contribution-explode construction
    (q_rolling_distinct_users): fan-out is 7x + 28x the DISTINCT
    (user, day) frame — never the event table — and each day's count
    is one distinct aggregate over uniform day keys."""
    ev = _t(spark, sf_dir, "events")
    ud = ev.select("user_id", F.date_trunc("day", "ts").alias("d")).distinct()
    dau = ud.groupBy(F.col("d").alias("day")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    out = (
        dau.join(_rolling_distinct_users(ev, 7, "wau"), "day")
        .join(_rolling_distinct_users(ev, 28, "mau"), "day")
        .select(
            "day", "dau", "wau", "mau",
            fround(F.col("dau") * 1.0 / F.col("mau"), 6).alias("stickiness"),
        )
        .orderBy("day")
    )
    return out


@register(
    "q_recommend_also_bought",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
                WHERE l_partkey <= 300),
    pairs AS (
      SELECT a.l_partkey AS p, b.l_partkey AS q, COUNT(*) AS together
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING COUNT(*) >= 2)
    SELECT p AS part, q AS also_bought, together, rn AS rec_rank
    FROM (SELECT p, q, together,
                 ROW_NUMBER() OVER (PARTITION BY p
                                    ORDER BY together DESC, q) AS rn
          FROM pairs)
    WHERE rn <= 3
    ORDER BY part, rec_rank
    """,
)
def q_recommend_also_bought(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'customers also bought' serving view: top-3 co-purchased
    parts per part by support (deterministic tiebreak) — the
    materialization a recommender serves from, derived from the same
    bounded basket self-join as q_copurchase_pairs but kept
    DIRECTIONAL (every part gets its own ranked list; the symmetric
    pair form can't be indexed by lookup key). The per-part window
    runs over the pair frame, support-filtered first."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_partkey") <= 300)
    op = li.select("l_orderkey", "l_partkey").distinct()
    a = op.select("l_orderkey", F.col("l_partkey").alias("p"))
    b = op.select("l_orderkey", F.col("l_partkey").alias("q"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("p") != F.col("q"))
        .groupBy("p", "q")
        .agg(F.count(F.lit(1)).alias("together"))
        .filter(F.col("together") >= 2)
    )
    w = Window.partitionBy("p").orderBy(F.col("together").desc(), "q")
    return (
        pairs.withColumn("rec_rank", F.row_number().over(w))
        .filter(F.col("rec_rank") <= 3)
        .select(
            F.col("p").alias("part"),
            F.col("q").alias("also_bought"),
            "together",
            F.col("rec_rank").cast("long").alias("rec_rank"),
        )
        .orderBy("part", "rec_rank")
    )


@register(
    "q_new_vs_returning",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey, MIN(o_orderdate) AS first_dt
      FROM orders GROUP BY o_custkey)
    SELECT strftime(date_trunc('month', o.o_orderdate), '%Y-%m') AS month,
           COUNT(CASE WHEN date_trunc('month', f.first_dt)
                        = date_trunc('month', o.o_orderdate) THEN 1 END) AS n_new,
           COUNT(CASE WHEN date_trunc('month', f.first_dt)
                        < date_trunc('month', o.o_orderdate) THEN 1 END) AS n_returning,
           ROUND(CAST(SUM(CASE WHEN date_trunc('month', f.first_dt)
                                 = date_trunc('month', o.o_orderdate)
                               THEN CAST(o.o_totalprice AS DECIMAL(20,4))
                               ELSE CAST(0 AS DECIMAL(20,4)) END) AS DOUBLE), 2)
             AS rev_new,
           ROUND(CAST(SUM(CASE WHEN date_trunc('month', f.first_dt)
                                 < date_trunc('month', o.o_orderdate)
                               THEN CAST(o.o_totalprice AS DECIMAL(20,4))
                               ELSE CAST(0 AS DECIMAL(20,4)) END) AS DOUBLE), 2)
             AS rev_returning
    FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning revenue split per month (the BI staple next to
    cohort retention): an order counts as 'new' iff it lands in the
    customer's first active month. The firsts frame is
    customer-cardinality and joins on the customer key; decimal-exact
    conditional sums keep both engines identical."""
    orders = _t(spark, sf_dir, "orders")
    firsts = orders.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("first_dt")
    )
    j = orders.join(firsts, "o_custkey").select(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month"),
        (
            F.date_trunc("month", "first_dt")
            == F.date_trunc("month", "o_orderdate")
        ).alias("is_new"),
        F.col("o_totalprice").cast("decimal(20,4)").alias("price"),
    )
    zero = F.lit(0).cast("decimal(20,4)")
    return (
        j.groupBy("month")
        .agg(
            F.count(F.when(F.col("is_new"), 1)).alias("n_new"),
            F.count(F.when(~F.col("is_new"), 1)).alias("n_returning"),
            F.round(
                F.sum(F.when(F.col("is_new"), F.col("price")).otherwise(zero)).cast("double"), 2
            ).alias("rev_new"),
            F.round(
                F.sum(F.when(~F.col("is_new"), F.col("price")).otherwise(zero)).cast("double"), 2
            ).alias("rev_returning"),
        )
        .orderBy("month")
    )


# --- r8: the remaining TPC-H shapes (no partsupp table in the testdata;
# --- each query keeps the ORIGINAL plan shape on the tables we have) ---------


@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH offers AS (
        SELECT l_partkey, l_suppkey,
               MIN(l_extendedprice / l_quantity) AS unit_price
        FROM lineitem GROUP BY l_partkey, l_suppkey),
    best AS (
        SELECT l_partkey, l_suppkey, unit_price,
               ROW_NUMBER() OVER (PARTITION BY l_partkey
                                  ORDER BY unit_price, l_suppkey) AS rn
        FROM offers)
    SELECT s_acctbal, s_name, n_name, p_partkey, p_type, unit_price
    FROM best
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    JOIN region ON r_regionkey = n_regionkey
    WHERE rn = 1 AND p_size < 25 AND p_type = 'STANDARD' AND r_name = 'ASIA'
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 adaptation (minimum-cost supplier): the correlated
    MIN-subquery becomes a per-(part, supplier) offer rollup plus a
    part-partitioned ROW_NUMBER pick — one shuffle keyed by part for
    both, never a re-scan per part. The dimension chain
    (supplier->nation->region) broadcasts; the region filter prunes
    BEFORE the big ORDER BY. Unit price is one IEEE division per
    group, identical in both engines; suppkey breaks cost ties so the
    picked row SET is deterministic. (Reference parity: applyView's
    nested findOne-per-parent, etl.js:28-33, at relational scale.)"""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price")
    )
    w = Window.partitionBy("l_partkey").orderBy("unit_price", "l_suppkey")
    best = offers.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") < 25) & (F.col("p_type") == "STANDARD")
    )
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        best.join(F.broadcast(part), best.l_partkey == part.p_partkey)
        .join(F.broadcast(sup), best.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_type", "unit_price")
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "q11_important_stock",
    oracle="""
    WITH per_part AS (
        SELECT l_partkey,
               SUM(CAST(l_extendedprice AS DECIMAL(20,4))) AS value_dec
        FROM lineitem GROUP BY l_partkey),
    total AS (SELECT SUM(value_dec) AS tv FROM per_part)
    SELECT l_partkey,
           CAST(value_dec AS DOUBLE) AS part_value
    FROM per_part, total
    WHERE value_dec > tv * CAST(0.0006 AS DECIMAL(8,6))
    ORDER BY part_value DESC, l_partkey
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 adaptation (important stock): group-by part value with
    a HAVING threshold against a GLOBAL scalar — the scalar is a 1-row
    aggregate cross-joined (broadcast) into the per-part frame, so the
    plan is two map-side-combinable aggregations and no second scan.
    The threshold comparison stays in the exact DECIMAL domain (sums
    and the 0.0006 fraction are both exact), so the qualifying row SET
    is bit-deterministic; the double cast happens only at output."""
    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(20,4)")).alias("value_dec")
    )
    total = per_part.agg(F.sum("value_dec").alias("tv"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value_dec") > F.col("tv") * F.lit(0.0006).cast("decimal(8,6)"))
        .select(
            "l_partkey", F.col("value_dec").cast("double").alias("part_value")
        )
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


@register(
    "q20_promotion_parts",
    oracle="""
    WITH sp AS (
        SELECT l_suppkey, l_partkey,
               SUM(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
                         AND l_shipdate < TIMESTAMP '1997-01-01'
                        THEN CAST(l_quantity AS DECIMAL(20,4))
                        ELSE CAST(0 AS DECIMAL(20,4)) END) AS qty96,
               SUM(CAST(l_quantity AS DECIMAL(20,4))) AS qty_all
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_type = 'PROMO'
        GROUP BY l_suppkey, l_partkey)
    SELECT s_name, s_acctbal,
           COUNT(*) AS n_qualifying_parts
    FROM sp
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE qty96 > qty_all * CAST(0.3 AS DECIMAL(4,2))
    GROUP BY s_name, s_acctbal
    ORDER BY s_name
    """,
)
def q20_promotion_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 adaptation (potential part promotion): the nested
    IN-subqueries become ONE conditional aggregation per
    (supplier, part) — the recent-year quantity and the all-time
    quantity come out of the same shuffle, and the availqty-style
    ratio test compares the two exact decimals. The part-type filter
    broadcasts into the scan side so pruning happens before the
    group-by; the supplier dimension broadcasts at the end."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    zero = F.lit(0).cast("decimal(20,4)")
    in96 = (
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    sp = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(
                F.when(in96, F.col("l_quantity").cast("decimal(20,4)")).otherwise(zero)
            ).alias("qty96"),
            F.sum(F.col("l_quantity").cast("decimal(20,4)")).alias("qty_all"),
        )
        .filter(F.col("qty96") > F.col("qty_all") * F.lit(0.3).cast("decimal(4,2)"))
    )
    sup = _t(spark, sf_dir, "supplier")
    return (
        sp.join(F.broadcast(sup), sp.l_suppkey == sup.s_suppkey)
        .groupBy("s_name", "s_acctbal")
        .agg(F.count(F.lit(1)).alias("n_qualifying_parts"))
        .orderBy("s_name")
    )


_KMV_K = 32
_KMV_H_SQL = (
    "CAST(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)"
    " AS DOUBLE) / 1152921504606846976.0"
)


def _kmv_h_col() -> "Column":
    """Spark twin of _KMV_H_SQL: md5(user_id) -> uniform double in
    [0, 1). ONE definition on each side — the 15-hex-digit width and
    the 2^60 scale must never drift between the sketch builders."""
    return (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
        ).cast("double")
        / F.lit(1152921504606846976.0)
    )


@register(
    "q_kmv_distinct_sketch",
    oracle=f"""
    WITH du AS (
        SELECT DISTINCT event_type, user_id FROM events),
    hashed AS (
        SELECT event_type, {_KMV_H_SQL} AS h FROM du),
    ranked AS (
        SELECT event_type, h,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n_exact
        FROM hashed),
    per_type AS (
        SELECT event_type, n_exact,
               CASE WHEN n_exact < {_KMV_K} THEN CAST(n_exact AS DOUBLE)
                    ELSE ({_KMV_K} - 1) / h END AS kmv_estimate
        FROM ranked WHERE rn = LEAST(n_exact, {_KMV_K})),
    merged_src AS (
        SELECT DISTINCT h FROM ranked WHERE rn <= {_KMV_K}),
    merged_ranked AS (
        SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM merged_src),
    all_row AS (
        SELECT 'ALL' AS event_type,
               (SELECT COUNT(DISTINCT user_id) FROM events) AS n_exact,
               ({_KMV_K} - 1) / h AS kmv_estimate
        FROM merged_ranked WHERE rn = {_KMV_K})
    SELECT event_type, CAST(n_exact AS BIGINT) AS n_exact,
           ROUND(kmv_estimate - 1e-9, 4) + 0 AS kmv_estimate,
           ROUND(ABS(kmv_estimate - n_exact) / n_exact - 1e-9, 4) + 0 AS rel_err
    FROM (SELECT * FROM per_type UNION ALL SELECT * FROM all_row)
    ORDER BY event_type
    """,
)
def q_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k) distinct sketch per event_type PLUS the merged
    global sketch — the mergeable, deterministic, cross-engine-replayable
    alternative to HLL (q_approx_distinct_users stays rows-only because
    HLL registers are engine-specific; KMV over md5 hashes replays
    bit-exactly in ANY engine). Estimate = (k-1)/h_k over uniform
    md5-derived hashes; a group with fewer than k distinct keys stores
    them all and reports the exact count. The 'ALL' row demonstrates
    the sketch's mergeability: union the per-group bottom-k sets,
    re-take the bottom k — the same union-then-truncate a 1000-executor
    tree aggregation performs, with k rows per partition on the wire
    instead of every distinct key. Scale: the sketch shuffle is
    k×groups rows regardless of corpus size."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    k = _KMV_K
    du = ev.select("event_type", "user_id").distinct()
    hashed = du.select("event_type", _kmv_h_col().alias("h"))
    w = Window.partitionBy("event_type").orderBy("h")
    ranked = hashed.select(
        "event_type",
        "h",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n_exact"),
    )
    per_type = ranked.filter(
        F.col("rn") == F.least(F.col("n_exact"), F.lit(k))
    ).select(
        "event_type",
        "n_exact",
        F.when(F.col("n_exact") < k, F.col("n_exact").cast("double"))
        .otherwise(F.lit(float(k - 1)) / F.col("h"))
        .alias("kmv_estimate"),
    )
    merged = (
        ranked.filter(F.col("rn") <= k)
        .select("h")
        .distinct()
        .select("h", F.row_number().over(Window.orderBy("h")).alias("rn"))
        .filter(F.col("rn") == k)
    )
    n_all = ev.agg(F.countDistinct("user_id").alias("n_exact"))
    all_row = merged.crossJoin(F.broadcast(n_all)).select(
        F.lit("ALL").alias("event_type"),
        "n_exact",
        (F.lit(float(k - 1)) / F.col("h")).alias("kmv_estimate"),
    )
    return (
        per_type.unionByName(all_row)
        .select(
            "event_type",
            F.col("n_exact").cast("long").alias("n_exact"),
            fround(F.col("kmv_estimate"), 4).alias("kmv_estimate"),
            fround(
                F.abs(F.col("kmv_estimate") - F.col("n_exact")) / F.col("n_exact"), 4
            ).alias("rel_err"),
        )
        .orderBy("event_type")
    )


@register(
    "q_zscore_normalize",
    oracle=f"""
    WITH stats AS (
        SELECT source,
               COUNT(*) AS n,
               SUM(CAST(n_chars AS DECIMAL(38,0))) AS s1,
               SUM(CAST(n_chars AS DECIMAL(38,0)) * n_chars) AS s2
        FROM documents GROUP BY source),
    params AS (
        SELECT source, n,
               CAST(s1 AS DOUBLE) / n AS mu,
               SQRT(CAST(s2 * n - s1 * s1 AS DOUBLE)) / n AS sigma
        FROM stats)
    SELECT doc_id, source, zscore
    FROM (
      SELECT doc_id, d.source AS source,
             {sql_fround('(n_chars - mu) / sigma', 6)} AS zscore
      FROM documents d JOIN params p ON d.source = p.source)
    WHERE ABS(zscore) > 1.5
    ORDER BY source, doc_id
    """,
)
def q_zscore_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score normalization (the feature-scaling primitive
    before model training): n_chars is integral, so Σx and Σx² accumulate exactly in
    DECIMAL(38,0) (no int64 wraparound at any group size), the
    population variance (Σx²·n − (Σx)²)/n² is an exact-integer ratio,
    and IEEE sqrt/div are correctly rounded in both engines. The one
    non-portable step is DuckDB's int128->double cast (not correctly
    rounded above 2^64), so z-scores take the house 6dp tie-round and
    the outlier filter compares the ROUNDED value — row membership
    cannot depend on a 1-ulp sigma. Plan:
    one map-side-combinable agg over the group key, broadcast of the
    group-cardinality params frame back onto the scan; flagged
    outliers (|z| > 1.5) come out of the same pass."""
    docs = _t(spark, sf_dir, "documents")
    stats = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        # DECIMAL(38,0) moments: int64 would silently wrap on s2*n at
        # multi-billion-doc groups while DuckDB's HUGEINT stayed exact
        # (code-review r8); decimal is exact in BOTH engines
        F.sum(F.col("n_chars").cast("decimal(38,0)")).alias("s1"),
        F.sum(F.col("n_chars").cast("decimal(38,0)") * F.col("n_chars")).alias("s2"),
    )
    params = stats.select(
        "source",
        (F.col("s1").cast("double") / F.col("n")).alias("mu"),
        (
            F.sqrt((F.col("s2") * F.col("n") - F.col("s1") * F.col("s1")).cast("double"))
            / F.col("n")
        ).alias("sigma"),
    )
    z = (F.col("n_chars") - F.col("mu")) / F.col("sigma")
    return (
        docs.join(F.broadcast(params), "source")
        .select("doc_id", "source", fround(z, 6).alias("zscore"))
        # filter AFTER the tie-round: comparing raw z against 1.5 on
        # each side would make row MEMBERSHIP depend on the 1-ulp
        # int128-cast divergence the rounding exists to absorb
        # (code-review r8, third pass)
        .filter(F.abs(F.col("zscore")) > 1.5)
        .orderBy("source", "doc_id")
    )


def cap_split_sessions(isl: DataFrame,
                       cap_us: int = 12 * 3600 * 1_000_000) -> DataFrame:
    """Greedy duration-cap session split over an island frame
    (user_id, ts, event_id, island) — pure JVM array algebra (r18).

    Per (user, island) the sorted event times fold into the (short)
    session-boundary chain: s0 = island start, s_{k+1} = first event
    time >= s_k + cap — `aggregate()` is exactly the sequential
    recurrence a window frame can't express. Each event's session
    start is then the largest boundary <= its time, and one grouped
    aggregate emits (user_id, session_start, session_end, n_events,
    is_cap_continuation). State stays bounded by one island, every
    shuffle reuses the user_id hash partitioning, and comparisons run
    on unix_micros int64 — integer-microsecond exact."""
    agg = isl.groupBy("user_id", "island").agg(
        F.expr(
            "transform(sort_array(collect_list(struct(ts, event_id))),"
            " e -> unix_micros(e.ts))"
        ).alias("tsus")
    )
    sess = agg.select(
        "user_id",
        "tsus",
        F.expr(
            f"aggregate(tsus, array(tsus[0]), (acc, t) -> "
            f"IF(t >= element_at(acc, -1) + {cap_us}L, "
            f"array_append(acc, t), acc))"
        ).alias("bounds"),
    )
    ex = sess.select(
        "user_id",
        F.expr("tsus[0]").alias("island_start_us"),
        F.explode(
            F.expr(
                "transform(tsus, t -> struct("
                "t AS ts_us, "
                "array_max(filter(bounds, b -> b <= t)) AS ss_us))"
            )
        ).alias("e"),
    )
    return (
        ex.groupBy(
            "user_id", F.col("e.ss_us").alias("ss_us"), "island_start_us"
        )
        .agg(
            F.max("e.ts_us").alias("se_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            F.timestamp_micros(F.col("ss_us")).alias("session_start"),
            F.timestamp_micros(F.col("se_us")).alias("session_end"),
            "n_events",
            (F.col("ss_us") > F.col("island_start_us")).alias(
                "is_cap_continuation"
            ),
        )
    )


@register(
    "q_session_cap_split",
    oracle="""
    WITH RECURSIVE
    e AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                      OR ts - LAG(ts) OVER w > INTERVAL 24 HOUR
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    isl AS (
        SELECT user_id, ts,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM e),
    bounds(user_id, island, s) AS (
        SELECT user_id, island, MIN(ts) FROM isl GROUP BY 1, 2
        UNION ALL
        SELECT b.user_id, b.island,
               (SELECT MIN(i.ts) FROM isl i
                WHERE i.user_id = b.user_id AND i.island = b.island
                  AND i.ts >= b.s + INTERVAL 12 HOUR)
        FROM bounds b
        WHERE EXISTS (SELECT 1 FROM isl i
                      WHERE i.user_id = b.user_id AND i.island = b.island
                        AND i.ts >= b.s + INTERVAL 12 HOUR)),
    starts AS (
        SELECT user_id, island, MIN(s) AS island_start FROM bounds GROUP BY 1, 2),
    asg AS (
        SELECT i.user_id, i.ts, st.island_start,
               (SELECT MAX(b.s) FROM bounds b
                WHERE b.user_id = i.user_id AND b.island = i.island
                  AND b.s <= i.ts) AS session_start
        FROM isl i JOIN starts st
          ON st.user_id = i.user_id AND st.island = i.island)
    SELECT user_id, session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           session_start > island_start AS is_cap_continuation
    FROM asg
    GROUP BY user_id, session_start, island_start
    ORDER BY user_id, session_start
    """,
)
def q_session_cap_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-duration-capped sessionization: 24h-gap islands (pure window
    algebra) are then split GREEDILY at the first event >= 12h after the
    running session start — the rule every analytics warehouse wants
    ('a session lasts at most N hours') that NO window frame can
    express, because each split point depends on the previous one.

    r18 (VERDICT r17 item 4): the splitter moved from an applyInPandas
    grouped map to PURE JVM array algebra, removing the Python/Arrow
    boundary entirely. Per (user, island) the sorted event times fold
    into the (short) session-boundary chain — `aggregate()` is exactly
    the sequential recurrence a window frame can't express — and each
    event's session start is the largest boundary <= its time. State
    stays bounded by one island (the same guarantee the grouped map
    relied on), every shuffle after the sessionize window reuses the
    user_id hash partitioning, and the cap comparisons run on
    unix_micros int64 — integer-microsecond exact, mirroring the
    recursive-CTE oracle. (The grouped-map formulation remains as the
    applyInPandas showcase in tests/test_relational.py's edge test,
    which cross-checks these exact semantics.) Measured at sf0.1 the
    Arrow boundary + per-group pandas overhead was ~half the query;
    the fold is one interpreted projection per island instead."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    brk = (
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.col("ts") > F.lag("ts").over(w) + F.expr("INTERVAL 24 HOURS")),
            1,
        ).otherwise(0)
    )
    isl = ev.select(
        "user_id", "ts", "event_id", brk.alias("brk")
    ).withColumn(
        "island",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )

    return cap_split_sessions(isl).orderBy("user_id", "session_start")


@register(
    "q_k_anonymity",
    oracle="""
    WITH g0 AS (
        SELECT n_nationkey, n_name, n_regionkey, c_mktsegment,
               COUNT(*) AS n
        FROM customer JOIN nation ON n_nationkey = c_nationkey
        GROUP BY 1, 2, 3, 4),
    ok0 AS (
        SELECT 'nation' AS level, n_name AS geo, c_mktsegment, n
        FROM g0 WHERE n >= 5),
    g1 AS (
        SELECT r_name, c_mktsegment, CAST(SUM(n) AS BIGINT) AS n
        FROM g0 JOIN region ON r_regionkey = n_regionkey
        WHERE g0.n < 5
        GROUP BY 1, 2),
    ok1 AS (
        SELECT 'region' AS level, r_name AS geo, c_mktsegment, n
        FROM g1 WHERE n >= 5),
    supp AS (
        SELECT 'suppressed' AS level, '*' AS geo, c_mktsegment, n
        FROM g1 WHERE n < 5)
    SELECT level, geo, c_mktsegment, n
    FROM (SELECT * FROM ok0 UNION ALL SELECT * FROM ok1
          UNION ALL SELECT * FROM supp)
    ORDER BY level, geo, c_mktsegment
    """,
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity generalization ladder (k=5) over the
    (nation, segment) quasi-identifier: groups meeting k publish at
    nation level; violating groups generalize UP the taxonomy to
    (region, segment) — re-aggregated from the level-0 frame, not a
    rescan — and whatever still violates is suppressed. The
    privacy-compliance audit shape (quasi-identifier risk + taxonomy
    rollup) as three aggregations over one scan; every frame is
    group-cardinality, dims broadcast."""
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    g0 = (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_nationkey", "n_name", "n_regionkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ok0 = g0.filter(F.col("n") >= 5).select(
        F.lit("nation").alias("level"),
        F.col("n_name").alias("geo"),
        "c_mktsegment",
        "n",
    )
    g1 = (
        g0.filter(F.col("n") < 5)
        .join(F.broadcast(reg), g0.n_regionkey == reg.r_regionkey)
        .groupBy("r_name", "c_mktsegment")
        .agg(F.sum("n").alias("n"))
    )
    ok1 = g1.filter(F.col("n") >= 5).select(
        F.lit("region").alias("level"),
        F.col("r_name").alias("geo"),
        "c_mktsegment",
        "n",
    )
    supp = g1.filter(F.col("n") < 5).select(
        F.lit("suppressed").alias("level"),
        F.lit("*").alias("geo"),
        "c_mktsegment",
        "n",
    )
    return ok0.unionByName(ok1).unionByName(supp).orderBy(
        "level", "geo", "c_mktsegment"
    )


@register(
    "q_dp_noisy_counts",
    oracle=f"""
    WITH c AS (
        SELECT event_type, COUNT(*) AS n_true FROM events GROUP BY 1),
    u AS (
        SELECT event_type, n_true,
               CAST(CAST(concat('0x', substr(md5(event_type || ':dp'), 1, 13))
                    AS BIGINT) AS DOUBLE) / 4503599627370496.0 AS unif
        FROM c)
    SELECT event_type, n_true,
           {sql_fround("-20.0 * CASE WHEN unif < 0.5 THEN -1.0 ELSE 1.0 END"
                       " * LN(1.0 - 2.0 * ABS(unif - 0.5))", 6)} AS noise,
           {sql_fround("n_true + (-20.0 * CASE WHEN unif < 0.5 THEN -1.0 ELSE 1.0 END"
                       " * LN(1.0 - 2.0 * ABS(unif - 0.5)))", 2)} AS n_released
    FROM u
    ORDER BY event_type
    """,
)
def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release (Laplace mechanism,
    sensitivity 1, b=20 => epsilon=0.05): noise drawn by inverse-CDF
    from an md5-seeded uniform — the per-release seeded-noise pattern a
    reproducible DP pipeline uses (same release key => same noise, so
    re-runs don't leak fresh samples; that IS the production rule, not
    a test convenience). ln() terms tie-rounded per the house pattern;
    everything else is one group-by." """
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_true"))
    unif = (
        F.conv(
            F.substring(F.md5(F.concat(F.col("event_type"), F.lit(":dp"))), 1, 13),
            16,
            10,
        ).cast("double")
        / F.lit(4503599627370496.0)
    )
    noise = (
        F.lit(-20.0)
        * F.when(unif < 0.5, -1.0).otherwise(1.0)
        * F.log(1.0 - 2.0 * F.abs(unif - 0.5))
    )
    return c.select(
        "event_type",
        "n_true",
        fround(noise, 6).alias("noise"),
        fround(F.col("n_true") + noise, 2).alias("n_released"),
    ).orderBy("event_type")


@register(
    "q_kmv_intersection",
    oracle=f"""
    WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
    hashed AS (SELECT event_type, user_id, {_KMV_H_SQL} AS h FROM du),
    sk AS (
        SELECT event_type, h,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM hashed),
    sketch AS (SELECT event_type, h FROM sk WHERE rn <= {_KMV_K}),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b
        FROM (SELECT DISTINCT event_type FROM events) a
        JOIN (SELECT DISTINCT event_type FROM events) b
          ON a.event_type < b.event_type),
    theta AS (
        SELECT type_a, type_b, h AS th
        FROM (SELECT type_a, type_b, h,
                     ROW_NUMBER() OVER (PARTITION BY type_a, type_b
                                        ORDER BY h) AS rn
              FROM (SELECT DISTINCT p.type_a, p.type_b, s.h
                    FROM pairs p JOIN sketch s
                      ON s.event_type IN (p.type_a, p.type_b)))
        WHERE rn = {_KMV_K}),
    matched AS (
        SELECT p.type_a, p.type_b, COUNT(*) AS m
        FROM pairs p
        JOIN sketch sa ON sa.event_type = p.type_a
        JOIN sketch sb ON sb.event_type = p.type_b AND sb.h = sa.h
        JOIN theta t ON t.type_a = p.type_a AND t.type_b = p.type_b
        WHERE sa.h < t.th
        GROUP BY 1, 2),
    exact AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               COUNT(*) AS n_exact
        FROM du a JOIN du b
          ON b.user_id = a.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2)
    SELECT e.type_a, e.type_b, e.n_exact,
           ROUND(COALESCE(m.m, 0) / t.th - 1e-9, 4) + 0 AS est_intersection
    FROM exact e
    JOIN theta t ON t.type_a = e.type_a AND t.type_b = e.type_b
    LEFT JOIN matched m ON m.type_a = e.type_a AND m.type_b = e.type_b
    ORDER BY e.type_a, e.type_b
    """,
)
def q_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch-style SET INTERSECTION from KMV sketches, for every
    pair of event types: theta = k-th smallest hash of the UNION of the
    two bottom-k sketches, estimate = |{h in both sketches, h < theta}|
    / theta — distinct-user overlap ('did view AND purchase') without
    ever joining the raw key sets. All sketch frames are k-rows-per-
    group; the only corpus-sized work is the same distinct the plain
    KMV build pays. The exact intersection (for the error column) comes
    from the distinct frame self-join — affordable at gate scale,
    replaced by the estimate alone at 100 TB (that being the point)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    k = _KMV_K
    du = ev.select("event_type", "user_id").distinct()
    hashed = du.select("event_type", "user_id", _kmv_h_col().alias("h"))
    wt = Window.partitionBy("event_type").orderBy("h")
    sketch = (
        hashed.select("event_type", "h", F.row_number().over(wt).alias("rn"))
        .filter(F.col("rn") <= k)
        .select("event_type", "h")
    )
    types = ev.select("event_type").distinct()
    pairs = (
        types.alias("a")
        .crossJoin(types.alias("b"))
        .filter(F.col("a.event_type") < F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
    )
    uni = (
        pairs.join(
            sketch.alias("s"),
            (F.col("s.event_type") == F.col("type_a"))
            | (F.col("s.event_type") == F.col("type_b")),
        )
        .select("type_a", "type_b", "h")
        .distinct()
    )
    wp = Window.partitionBy("type_a", "type_b").orderBy("h")
    theta = (
        uni.select("type_a", "type_b", "h", F.row_number().over(wp).alias("rn"))
        .filter(F.col("rn") == k)
        .select("type_a", "type_b", F.col("h").alias("th"))
    )
    sa = sketch.alias("sa")
    sb = sketch.alias("sb")
    matched = (
        pairs.join(sa, F.col("sa.event_type") == F.col("type_a"))
        .join(
            sb,
            (F.col("sb.event_type") == F.col("type_b"))
            & (F.col("sb.h") == F.col("sa.h")),
        )
        .join(theta, ["type_a", "type_b"])
        .filter(F.col("sa.h") < F.col("th"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    dua = du.alias("da")
    dub = du.alias("db")
    exact = (
        dua.join(
            dub,
            (F.col("db.user_id") == F.col("da.user_id"))
            & (F.col("da.event_type") < F.col("db.event_type")),
        )
        .groupBy(
            F.col("da.event_type").alias("type_a"),
            F.col("db.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    return (
        exact.join(theta, ["type_a", "type_b"])
        .join(matched, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            "n_exact",
            fround(
                F.coalesce(F.col("m"), F.lit(0)) / F.col("th"), 4
            ).alias("est_intersection"),
        )
        .orderBy("type_a", "type_b")
    )


@register(
    "q_quantile_normalize",
    oracle="""
    WITH ref AS (
        SELECT n_chars AS v,
               ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rn,
               COUNT(*) OVER () AS n
        FROM documents),
    pr AS (
        SELECT doc_id, source, n_chars,
               PERCENT_RANK() OVER (PARTITION BY source
                                    ORDER BY n_chars, doc_id) AS p,
               (SELECT MAX(n) FROM ref) AS n
        FROM documents),
    pos AS (
        SELECT doc_id, source, n_chars, p,
               CAST(FLOOR(p * (n - 1)) AS BIGINT) + 1 AS lo,
               p * (n - 1) - FLOOR(p * (n - 1)) AS frac
        FROM pr)
    SELECT pos.doc_id, source, n_chars,
           ROUND(a.v + frac * (COALESCE(b.v, a.v) - a.v) - 1e-9, 4) + 0
               AS qnorm
    FROM pos
    JOIN ref a ON a.rn = pos.lo
    LEFT JOIN ref b ON b.rn = pos.lo + 1
    ORDER BY pos.doc_id
    """,
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of a per-source feature onto the GLOBAL
    reference distribution (the bioinformatics/feature-prep transform:
    each source's ranks are mapped through the corpus-wide order
    statistics, removing per-source scale and shape): within-source
    percent_rank -> fractional position in the global sorted vector ->
    linear interpolation between the two bracketing order statistics.
    percent_rank is an exact rational in both engines; interpolation is
    IEEE arithmetic; one tie-round at output. The global rank behind
    the reference vector is TWO-PHASE (plan-lint r9: the naive
    Window.orderBy row_number funnels the corpus through one
    partition): rank(doc) = docs-with-smaller-value (a running sum
    over the DOMAIN-sized distinct-value frame, same bounded-window
    posture as q_filter_auc) + rank within the value cell
    (partitionBy(n_chars) — distributes across the cluster). The ref
    joins are deliberately UNHINTED (r8 ADVICE: a pinned F.broadcast
    on the document-cardinality ref frame hard-fails the broadcast
    limit at scale) — AQE broadcasts them while they are actually
    small and degrades to a shuffle join gracefully when they are
    not; the per-doc side never sorts globally."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    cells = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = cells.select(
        "v", (F.sum("c").over(wv) - F.col("c")).alias("cum_below")
    )
    wr = Window.partitionBy("n_chars").orderBy("doc_id")
    ref = (
        docs.select("n_chars", "doc_id")
        .withColumn("wr", F.row_number().over(wr))
        .join(cum, F.col("n_chars") == F.col("v"))  # unhinted: AQE decides
        .select("v", (F.col("cum_below") + F.col("wr")).alias("rn"))
    )
    n_total = docs.agg(F.count(F.lit(1)).alias("n"))
    ws = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    pr = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.percent_rank().over(ws).alias("p"),
    ).crossJoin(F.broadcast(n_total))
    pos = pr.select(
        "doc_id",
        "source",
        "n_chars",
        "p",
        (F.floor(F.col("p") * (F.col("n") - 1)) + 1).alias("lo"),
        (
            F.col("p") * (F.col("n") - 1) - F.floor(F.col("p") * (F.col("n") - 1))
        ).alias("frac"),
    )
    a = ref.alias("a")
    b = ref.alias("b")
    return (
        pos.join(a, F.col("a.rn") == F.col("lo"))  # unhinted: AQE decides
        .join(b, F.col("b.rn") == F.col("lo") + 1, "left")
        .select(
            "doc_id",
            "source",
            "n_chars",
            fround(
                F.col("a.v")
                + F.col("frac")
                * (F.coalesce(F.col("b.v"), F.col("a.v")) - F.col("a.v")),
                4,
            ).alias("qnorm"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_cusum_changepoint",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS n
        FROM events GROUP BY 1, 2),
    m AS (
        SELECT event_type,
               CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mean_daily
        FROM daily GROUP BY 1),
    cs AS (
        SELECT d.event_type, d.day, d.n, m.mean_daily,
               SUM(d.n - m.mean_daily)
                   OVER (PARTITION BY d.event_type ORDER BY d.day
                         ROWS UNBOUNDED PRECEDING) AS cusum
        FROM daily d JOIN m ON m.event_type = d.event_type),
    best AS (
        SELECT event_type, day, cusum, mean_daily,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY ABS(cusum) DESC, day) AS rn
        FROM cs)
    SELECT event_type, day AS changepoint_day,
           {sql_fround('cusum', 4)} AS max_cusum,
           {sql_fround('mean_daily', 4)} AS mean_daily
    FROM best WHERE rn = 1
    ORDER BY event_type
    """,
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event type: the day where the
    cumulative deviation from the series mean peaks — the standard
    mean-shift detector for ops/quality monitoring. The running sum is
    an ORDERED window (both engines accumulate the same sequence of
    IEEE adds, so the cusum is bit-identical without decimal
    scaffolding); the argmax takes a day tiebreak. Daily pre-
    aggregation keeps every frame days x types-sized regardless of
    event volume."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    m = daily.groupBy("event_type").agg(
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("mean_daily")
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cs = daily.join(F.broadcast(m), "event_type").withColumn(
        "cusum", F.sum(F.col("n") - F.col("mean_daily")).over(wc)
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum")).desc(), "day"
    )
    return (
        cs.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("changepoint_day"),
            fround(F.col("cusum"), 4).alias("max_cusum"),
            fround(F.col("mean_daily"), 4).alias("mean_daily"),
        )
        .orderBy("event_type")
    )


@register(
    "q_seasonal_decompose",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS n
        FROM events GROUP BY 1, 2),
    tr AS (
        SELECT event_type, day, n,
               CAST(SUM(n) OVER w7 AS DOUBLE) / 7 AS trend,
               COUNT(*) OVER w7 AS wn,
               dayofweek(day) AS dow
        FROM daily
        WINDOW w7 AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    full_w AS (
        SELECT event_type, day, dow, n, trend, n - trend AS resid
        FROM tr WHERE wn = 7),
    seas AS (
        SELECT event_type, dow,
               CAST(SUM(CAST(resid AS DECIMAL(20,4))) AS DOUBLE) / COUNT(*)
                   AS seasonal_raw
        FROM full_w GROUP BY 1, 2)
    SELECT f.event_type, f.day, f.n,
           {sql_fround('f.trend', 4)} AS trend,
           {sql_fround('s.seasonal_raw', 4)} AS seasonal,
           {sql_fround('f.resid - s.seasonal_raw', 4)} AS remainder
    FROM full_w f
    JOIN seas s ON s.event_type = f.event_type AND s.dow = f.dow
    ORDER BY f.event_type, f.day
    """,
)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition (STL-lite) of the daily count
    series per event type: trend = centered 7-day moving average (full
    windows only — edge days trim, as in the textbook formulation),
    day-of-week seasonal = mean residual per weekday (decimal-summed:
    the only order-dependent aggregate), remainder = residual −
    seasonal. 7 consecutive integer counts divide exactly; residuals
    are IEEE-exact; one tie-round per output column. Everything after
    the daily rollup is days x types-sized."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w7 = Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "event_type",
        "day",
        "n",
        (F.sum("n").over(w7).cast("double") / 7).alias("trend"),
        F.count(F.lit(1)).over(w7).alias("wn"),
        F.dayofweek("day").alias("dow"),
    )
    full_w = tr.filter(F.col("wn") == 7).withColumn(
        "resid", F.col("n") - F.col("trend")
    )
    seas = full_w.groupBy("event_type", "dow").agg(
        (
            F.sum(F.col("resid").cast("decimal(20,4)")).cast("double")
            / F.count(F.lit(1))
        ).alias("seasonal_raw")
    )
    return (
        full_w.join(F.broadcast(seas), ["event_type", "dow"])
        .select(
            "event_type",
            "day",
            "n",
            fround(F.col("trend"), 4).alias("trend"),
            fround(F.col("seasonal_raw"), 4).alias("seasonal"),
            fround(F.col("resid") - F.col("seasonal_raw"), 4).alias("remainder"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "q_decayed_popularity",
    oracle="""
    WITH mx AS (SELECT MAX(date_trunc('day', ts)) AS max_day FROM events),
    daily AS (
        SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS n
        FROM events GROUP BY 1, 2),
    aged AS (
        SELECT event_type, n,
               LEAST(date_diff('day', day, max_day), 40) AS age
        FROM daily, mx),
    sc AS (
        SELECT event_type,
               SUM(CAST(n AS DECIMAL(38,0))
                   * CAST(CAST(1 AS BIGINT) << (40 - age) AS DECIMAL(38,0)))
                   AS scaled,
               CAST(SUM(n) AS BIGINT) AS n_total
        FROM aged GROUP BY 1)
    SELECT event_type, n_total,
           CAST(scaled AS DOUBLE) / CAST(CAST(1 AS BIGINT) << 40 AS DOUBLE)
               AS decayed_score
    FROM sc
    ORDER BY decayed_score DESC, event_type
    """,
)
def q_decayed_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-decayed popularity (half-life 1 day): score =
    sum(count_d * 2^-age_d) — the recency-weighted ranking signal
    behind trending/recommendation serving. Instead of POWER(0.5, age)
    floats, each term scales to an exact integer (n << (40 - age), ages
    clamped to 40 so stale partitions saturate at the smallest weight
    instead of shifting negative) accumulated in DECIMAL(38,0) — exact
    far past int64, zero floating-point accumulation, mergeable across
    partitions/batches (one exact sum); the single final division by
    2^40 is an exact dyadic scale. The 1-row max-day frame broadcasts."""
    ev = _t(spark, sf_dir, "events")
    mx = ev.agg(F.max(F.date_trunc("day", "ts")).alias("max_day"))
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    aged = daily.crossJoin(F.broadcast(mx)).select(
        "event_type",
        "n",
        # clamp: ages past 40 days saturate at the smallest dyadic
        # weight instead of shifting negative (Spark would wrap the
        # shift amount mod 64 while DuckDB errors — code-review r8);
        # decimal terms keep the sum exact past int64 at any volume
        F.least(F.datediff(F.col("max_day"), F.col("day")), F.lit(40)).alias("age"),
    )
    sc = aged.groupBy("event_type").agg(
        F.sum(
            F.expr(
                "CAST(n AS DECIMAL(38,0))"
                " * CAST(shiftleft(CAST(1 AS BIGINT), 40 - age) AS DECIMAL(38,0))"
            )
        ).alias("scaled"),
        F.sum("n").alias("n_total"),
    )
    return sc.select(
        "event_type",
        "n_total",
        (
            F.col("scaled").cast("double")
            / F.lit(float(1 << 40))
        ).alias("decayed_score"),
    ).orderBy(F.desc("decayed_score"), "event_type")


@register(
    "q_theil_sen",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS n
        FROM events GROUP BY 1, 2),
    pairs AS (
        SELECT a.event_type,
               CAST(b.n - a.n AS DOUBLE)
                   / date_diff('day', a.day, b.day) AS slope
        FROM daily a
        JOIN daily b ON b.event_type = a.event_type AND b.day > a.day),
    ranked AS (
        SELECT event_type, slope,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY slope) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS m
        FROM pairs)
    SELECT event_type, CAST(m AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN rn IN ((m + 1) // 2, (m + 2) // 2)
                         THEN slope END) AS DOUBLE)
               / (1 + CAST(m % 2 = 0 AS INTEGER)) AS theil_sen_slope
    FROM ranked
    GROUP BY event_type, m
    ORDER BY event_type
    """,
)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend estimate per series: the MEDIAN of all
    pairwise slopes of the daily counts — outlier-immune where OLS
    (q_trend_regression) is not, the standard robust monitor for noisy
    operational series. Pair volume is (days choose 2) per series —
    quadratic in DAYS, not events, so ~400 pairs per series at any
    corpus size (the daily rollup is the only event-scale stage). The
    exact median interpolates the two middle order statistics on even
    counts; every slope is one IEEE division of integers, identical in
    both engines."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(
        b,
        (F.col("b.event_type") == F.col("a.event_type"))
        & (F.col("b.day") > F.col("a.day")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.n") - F.col("a.n")).cast("double")
            / F.datediff(F.col("b.day"), F.col("a.day"))
        ).alias("slope"),
    )
    w = Window.partitionBy("event_type").orderBy("slope")
    ranked = pairs.select(
        "event_type",
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("m"),
    )
    return (
        ranked.filter(
            (F.col("rn") == F.floor((F.col("m") + 1) / 2))
            | (F.col("rn") == F.floor((F.col("m") + 2) / 2))
        )
        .groupBy("event_type", "m")
        .agg(
            F.sum("slope").alias("mid_sum"),
            F.count(F.lit(1)).alias("n_mid"),
        )
        .select(
            "event_type",
            F.col("m").cast("long").alias("n_pairs"),
            (F.col("mid_sum") / F.col("n_mid")).alias("theil_sen_slope"),
        )
        .orderBy("event_type")
    )


@register(
    "q_interarrival_burstiness",
    oracle="""
    WITH gaps AS (
        SELECT user_id,
               epoch_us(ts) - LAG(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        FROM events),
    moms AS (
        SELECT user_id, COUNT(*) AS n,
               SUM(CAST(gap AS DECIMAL(38,0))) AS s1,
               SUM(CAST(gap AS DECIMAL(38,0)) * gap) AS s2
        FROM gaps WHERE gap IS NOT NULL
        GROUP BY user_id
        HAVING COUNT(*) >= 10)
    SELECT user_id, n AS n_gaps,
           ROUND(CAST(s1 AS DOUBLE) / n / 1000000 - 1e-9, 6) + 0 AS mean_gap_s,
           ROUND(SQRT(CAST(s2 * n - s1 * s1 AS DOUBLE)) / n
               / (CAST(s1 AS DOUBLE) / n) - 1e-9, 6) + 0 AS burstiness_cv
    FROM moms
    ORDER BY user_id
    """,
)
def q_interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival burstiness per user: coefficient of variation of
    the event gap distribution (CV≈1 Poisson, >1 bursty, <1 regular) —
    the traffic-shape fingerprint behind bot detection and capacity
    planning. Gaps are integer microseconds, so the moment sums are
    exact in DECIMAL(38,0) (µs² crosses int64 fast) and the variance
    is an exact-integer ratio; one IEEE sqrt + two divisions. The
    int128->double cast is NOT correctly rounded in DuckDB above 2^64
    (code-review r8), so the two outputs take the house 6dp tie-round;
    one window + one agg over user-partitioned data."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gaps = ev.select(
        "user_id", (us - F.lag(us).over(w)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    moms = (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("gap").cast("decimal(38,0)")).alias("s1"),
            F.sum(F.col("gap").cast("decimal(38,0)") * F.col("gap")).alias("s2"),
        )
        .filter(F.col("n") >= 10)
    )
    mean = F.col("s1").cast("double") / F.col("n")
    std = (
        F.sqrt((F.col("s2") * F.col("n") - F.col("s1") * F.col("s1")).cast("double"))
        / F.col("n")
    )
    return moms.select(
        "user_id",
        F.col("n").alias("n_gaps"),
        fround(mean / 1000000, 6).alias("mean_gap_s"),
        fround(std / mean, 6).alias("burstiness_cv"),
    ).orderBy("user_id")


@register(
    "q_string_agg_report",
    oracle="""
    SELECT r_name,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           COUNT(*) AS n_nations
    FROM nation JOIN region ON r_regionkey = n_regionkey
    GROUP BY r_name
    ORDER BY r_name
    """,
)
def q_string_agg_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg — the report
    surface every BI export hits): Spark has no ordered string_agg, so
    the deterministic twin is sort_array(collect_list(...)) joined
    with the separator — collect_list order is partition-dependent,
    the sort is what makes the result stable and cross-engine equal.
    Group frames are dimension-sized; at scale the same shape runs on
    any grouped key with bounded group cardinality (collect_list is
    memory-bounded by the group, the usual LISTAGG contract)."""
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    return (
        nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias(
                "nations"
            ),
            F.count(F.lit(1)).alias("n_nations"),
        )
        .orderBy("r_name")
    )


@register(
    "q_log_histogram",
    oracle="""
    SELECT CAST(FLOOR(LOG2(n_chars)) AS BIGINT) AS log2_bin,
           CAST(POWER(2, FLOOR(LOG2(n_chars))) AS BIGINT) AS bin_lo,
           COUNT(*) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents
    WHERE n_chars > 0
    GROUP BY 1, 2
    ORDER BY 1
    """,
)
def q_log_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-binned size histogram (the doc-length distribution view
    every curation dashboard starts with — linear bins are useless
    over 5 orders of magnitude). floor(log2(x)) of a positive integer
    is exact in both engines (log2 is correctly rounded at powers of
    two, so the floor cannot straddle a boundary); one group-by with
    map-side partials, bin count bounded at 64."""
    docs = _t(spark, sf_dir, "documents")
    lb = F.floor(F.log2("n_chars"))
    return (
        docs.filter(F.col("n_chars") > 0)
        .groupBy(
            lb.cast("long").alias("log2_bin"),
            F.pow(F.lit(2.0), lb).cast("long").alias("bin_lo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
        .orderBy("log2_bin")
    )


@register(
    "q_join_cardinality_estimate",
    oracle="""
    WITH ha AS (SELECT o_custkey AS k, COUNT(*) AS ca FROM orders GROUP BY 1),
    hb AS (SELECT c_custkey AS k, COUNT(*) AS cb FROM customer GROUP BY 1),
    est AS (
        SELECT CAST(SUM(ca * cb) AS BIGINT) AS est_rows,
               COUNT(*) AS n_matching_keys
        FROM ha JOIN hb USING (k)),
    act AS (
        SELECT COUNT(*) AS actual_rows
        FROM orders JOIN customer ON c_custkey = o_custkey)
    SELECT est_rows, n_matching_keys, actual_rows,
           CAST(est_rows - actual_rows AS BIGINT) AS estimate_error
    FROM est, act
    """,
)
def q_join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size pre-flight from per-key frequency histograms: the
    planner primitive — |A join B| = sum over matching keys of
    count_a*count_b — computed exactly from two group-bys whose output
    is KEY-cardinality, then validated against the actual join count
    (estimate_error = 0 for exact histograms; production uses top-k
    heavy-hitter histograms + a tail uniformity assumption, same
    plan). This is the measurement you run BEFORE choosing plain /
    broadcast / salted for a 100 TB join — the two histogram aggs cost
    one map-side-combinable pass each, versus materializing a
    potentially exploding join to find out the hard way."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    ha = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("ca")
    )
    hb = cust.groupBy(F.col("c_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("cb")
    )
    est = ha.join(hb, "k").agg(
        F.sum(F.col("ca") * F.col("cb")).alias("est_rows"),
        F.count(F.lit(1)).alias("n_matching_keys"),
    )
    act = orders.join(cust, orders.o_custkey == cust.c_custkey).agg(
        F.count(F.lit(1)).alias("actual_rows")
    )
    return est.crossJoin(F.broadcast(act)).select(
        "est_rows",
        "n_matching_keys",
        "actual_rows",
        (F.col("est_rows") - F.col("actual_rows")).alias("estimate_error"),
    )


@register(
    "q_benford_audit",
    oracle=f"""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
               AS BIGINT) AS digit
        FROM orders WHERE o_totalprice > 0),
    obs AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM obs)
    SELECT digit, n,
           {sql_fround('n / CAST(t AS DOUBLE)', 6)} AS observed_freq,
           {sql_fround('LOG10(1.0 + 1.0 / digit)', 6)} AS benford_freq,
           {sql_fround('(n / CAST(t AS DOUBLE) - LOG10(1.0 + 1.0 / digit))'
                       ' * (n / CAST(t AS DOUBLE) - LOG10(1.0 + 1.0 / digit))'
                       ' / LOG10(1.0 + 1.0 / digit) * t', 4)} AS chi2_term
    FROM obs, tot
    ORDER BY digit
    """,
)
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals — the fraud/synthetic-
    data screen: observed leading-digit frequencies vs the log10(1+1/d)
    law, with per-digit chi-square contributions (flag digits whose
    term dominates). The leading digit comes from FLOOR(total*100)
    cents — floor spelled explicitly on BOTH sides because Spark's
    double->long cast truncates while DuckDB's rounds to nearest
    (~4.7% of raw cents differ; code-review r8); only the law itself
    uses LOG10, tie-rounded per the house pattern. One
    9-row group-by with map-side partials."""
    orders = _t(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
    ).cast("long")
    obs = (
        orders.filter(F.col("o_totalprice") > 0)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = obs.agg(F.sum("n").alias("t"))
    freq = F.col("n") / F.col("t").cast("double")
    law = F.log10(1.0 + 1.0 / F.col("digit"))
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            fround(freq, 6).alias("observed_freq"),
            fround(law, 6).alias("benford_freq"),
            fround((freq - law) * (freq - law) / law * F.col("t"), 4).alias(
                "chi2_term"
            ),
        )
        .orderBy("digit")
    )


@register(
    "q_rfm_segments",
    oracle="""
    WITH mx AS (SELECT MAX(o_orderdate) AS maxd FROM orders),
    per_cust AS (
        SELECT o_custkey,
               date_diff('day', MAX(o_orderdate), (SELECT maxd FROM mx))
                 AS recency_days,
               COUNT(*) AS frequency,
               SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS monetary
        FROM orders GROUP BY o_custkey),
    scored AS (
        SELECT recency_days, frequency, monetary,
               CAST(NTILE(5) OVER (ORDER BY recency_days, o_custkey) AS INT)
                 AS r_score,
               CAST(NTILE(5) OVER (ORDER BY frequency DESC, o_custkey) AS INT)
                 AS f_score,
               CAST(NTILE(5) OVER (ORDER BY monetary DESC, o_custkey) AS INT)
                 AS m_score
        FROM per_cust)
    SELECT r_score, f_score, m_score,
           CASE WHEN r_score <= 2 AND f_score <= 2 AND m_score <= 2
                     THEN 'champion'
                WHEN r_score >= 4 AND f_score <= 2 THEN 'at_risk'
                WHEN r_score <= 2 AND f_score >= 4 THEN 'new'
                ELSE 'regular' END AS segment,
           COUNT(*) AS n_customers,
           ROUND(CAST(SUM(monetary) AS DOUBLE) - 1e-9, 2) + 0 AS total_monetary
    FROM scored
    GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the marketing-analytics workhorse: per
    customer recency (days since last order, vs the corpus max date —
    a 1-row broadcast), frequency (order count) and monetary (exact
    DECIMAL spend), each quintiled by NTILE(5) over the aggregated
    CUSTOMER frame (customer-cardinality window, the same acceptance
    as q_user_value_deciles: a corpus-scale frame would
    range-partition first), with deterministic custkey tiebreakers so
    the SQL-standard remainder distribution is engine-identical.
    Scores roll up to the classic champion / at-risk / new / regular
    segment grid with per-cell counts and exact monetary totals."""
    o = _t(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_orderdate").alias("maxd"))
    per_cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(20,2)")).alias("monetary"),
        )
        .crossJoin(F.broadcast(mx))  # 1-row max-date frame
        .withColumn("recency_days", F.datediff(F.col("maxd"), F.col("last_order")))
    )
    scored = per_cust.select(
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(5)
        .over(Window.orderBy("recency_days", "o_custkey"))
        .cast("int")
        .alias("r_score"),
        F.ntile(5)
        .over(Window.orderBy(F.col("frequency").desc(), "o_custkey"))
        .cast("int")
        .alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy(F.col("monetary").desc(), "o_custkey"))
        .cast("int")
        .alias("m_score"),
    )
    seg = (
        F.when(
            (F.col("r_score") <= 2) & (F.col("f_score") <= 2) & (F.col("m_score") <= 2),
            "champion",
        )
        .when((F.col("r_score") >= 4) & (F.col("f_score") <= 2), "at_risk")
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 4), "new")
        .otherwise("regular")
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            fround(F.sum("monetary").cast("double"), 2).alias("total_monetary"),
        )
        .withColumn("segment", seg)
        .select(
            "r_score", "f_score", "m_score", "segment", "n_customers",
            "total_monetary",
        )
        .orderBy("r_score", "f_score", "m_score")
    )


@register(
    "q_pareto_coverage",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey,
               SUM(CAST(o_totalprice AS DECIMAL(20,2))) AS rev
        FROM orders GROUP BY o_custkey),
    tot AS (SELECT SUM(rev) AS total FROM per_cust),
    ranked AS (
        SELECT rev,
               ROW_NUMBER() OVER (ORDER BY rev DESC, o_custkey) AS rnk,
               SUM(rev) OVER (ORDER BY rev DESC, o_custkey
                              ROWS UNBOUNDED PRECEDING) AS cum
        FROM per_cust),
    th AS (SELECT * FROM (VALUES (50), (80), (90)) t(pct))
    SELECT th.pct,
           MIN(r.rnk) AS n_customers,
           ROUND(CAST(MIN_BY(r.cum, r.rnk) AS DOUBLE)
                 / CAST((SELECT total FROM tot) AS DOUBLE) - 1e-9, 6) + 0
             AS covered_share
    FROM th JOIN ranked r
      ON r.cum * 100 >= (SELECT total FROM tot) * th.pct
    GROUP BY th.pct
    ORDER BY th.pct
    """,
)
def q_pareto_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / revenue-concentration readout: the smallest number of
    customers covering >= 50/80/90% of total revenue. Exact DECIMAL
    end-to-end: per-customer revenue sums, a running cumulative sum
    over the customer-cardinality frame (global window with custkey
    tiebreak — same class as q_gini_revenue), and the threshold test
    cum*100 >= total*pct kept in the decimal domain so no float
    comparison decides a boundary customer. The 3-row threshold frame
    joins against the ranked frame (AQE broadcasts it); min_by pulls
    the covering rank's cumulative share."""
    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(20,2)")).alias("rev")
    )
    tot = per_cust.agg(F.sum("rev").alias("total"))
    w = Window.orderBy(F.col("rev").desc(), F.col("o_custkey"))
    ranked = per_cust.select(
        "rev",
        F.row_number().over(w).alias("rnk"),
        F.sum("rev").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
    )
    th = spark.range(1).select(
        F.explode(F.array(F.lit(50), F.lit(80), F.lit(90))).alias("pct")
    )
    return (
        th.join(
            ranked.crossJoin(F.broadcast(tot)),  # 1-row total frame
            F.col("cum") * 100 >= F.col("total") * F.col("pct"),
        )
        .groupBy("pct")
        .agg(
            F.min("rnk").alias("n_customers"),
            fround(
                F.min_by("cum", "rnk").cast("double")
                / F.first("total").cast("double"),
                6,
            ).alias("covered_share"),
        )
        .orderBy("pct")
    )


@register(
    "q_equidepth_bands",
    oracle="""
    WITH q AS (
        SELECT ROUND(quantile_cont(o_totalprice, 0.25) - 1e-9, 6) + 0 AS q1,
               ROUND(quantile_cont(o_totalprice, 0.50) - 1e-9, 6) + 0 AS q2,
               ROUND(quantile_cont(o_totalprice, 0.75) - 1e-9, 6) + 0 AS q3
        FROM orders),
    banded AS (
        SELECT CASE WHEN o_totalprice <= q.q1 THEN 1
                    WHEN o_totalprice <= q.q2 THEN 2
                    WHEN o_totalprice <= q.q3 THEN 3
                    ELSE 4 END AS band,
               o_totalprice
        FROM orders CROSS JOIN q)
    SELECT band, COUNT(*) AS n_orders,
           ROUND(MIN(o_totalprice) - 1e-9, 2) + 0 AS band_min,
           ROUND(MAX(o_totalprice) - 1e-9, 2) + 0 AS band_max,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                 - 1e-9, 2) + 0 AS band_revenue
    FROM banded
    GROUP BY band
    ORDER BY band
    """,
)
def q_equidepth_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH quartile banding — the complement of
    q_value_histogram's equi-width bins: exact interpolated Q1/Q2/Q3
    boundaries (sort-based percentiles, cross-engine identical —
    q_percentile_stats' proven arithmetic) computed ONCE as a 1-row
    frame and broadcast against the fact scan, each order classified
    by decimal-value comparison against the rounded boundaries, then
    per-band counts / extrema / exact-decimal revenue. The scale
    shape: a full-data percentile is one sort-based aggregate, the
    banding pass is a broadcast-join projection — no global sort of
    the fact table, no NTILE over a corpus-sized window."""
    o = _t(spark, sf_dir, "orders")
    price = F.col("o_totalprice")
    q = o.agg(
        fround(F.percentile(price, F.lit(0.25)), 6).alias("q1"),
        fround(F.percentile(price, F.lit(0.50)), 6).alias("q2"),
        fround(F.percentile(price, F.lit(0.75)), 6).alias("q3"),
    )
    band = (
        F.when(price <= F.col("q1"), 1)
        .when(price <= F.col("q2"), 2)
        .when(price <= F.col("q3"), 3)
        .otherwise(4)
    )
    return (
        o.crossJoin(F.broadcast(q))  # 1-row boundary frame
        .select(band.alias("band"), price)
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            fround(F.min(price), 2).alias("band_min"),
            fround(F.max(price), 2).alias("band_max"),
            dsum(price).alias("band_revenue"),
        )
        .orderBy("band")
    )


@register(
    "q_bloom_join_filter",
    oracle=f"""
    SELECT o.o_orderpriority, COUNT(*) AS n_orders,
           {sql_dsum('o.o_totalprice')} AS revenue
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def q_bloom_join_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filtered join — explicit sideways information passing
    (the runtime-filter pattern Spark applies automatically when
    spark.sql.optimizer.runtimeFilter.bloomFilter.enabled is on,
    built here from the repo's own deterministic sketch so the
    mechanism is inspectable and available to any plan): the selective
    dim side (BUILDING customers) compiles to a fixed-size bitmap
    (<= ceil(2^18/63) rows, a few KB at ANY dim cardinality), the
    fact scan probes it shuffle-free (k=4 probe columns, broadcast
    bitmap joins), and only maybe-present rows reach the real join —
    at 100 TB this is the difference between shuffling the full fact
    table into the join and shuffling the ~selectivity fraction that
    can match. One-sided error makes the filter SEMANTICS-TRANSPARENT:
    no false negatives, and the exact join drops the deterministic
    false positives, so the result equals the plain join and the
    oracle is the plain SQL join."""
    from cpx_etl_spark.operators.sketches import bloom_build, bloom_probe

    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", F.col("c_custkey").cast("string").alias("c_key"))
    )
    bloom = bloom_build(cust, "c_key", k=4, m_bits=1 << 18)
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderpriority",
        "o_totalprice",
        F.col("o_custkey").cast("string").alias("o_key"),
    )
    pre = (
        bloom_probe(bloom, orders, "o_key", k=4, m_bits=1 << 18)
        .filter(F.col("maybe_present"))
        .drop("o_key")
    )
    return (
        pre.join(cust, pre.o_custkey == cust.c_custkey)  # exact join drops FPs
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q_time_weighted_avg",
    oracle="""
    WITH iv AS (
        SELECT user_id, date_trunc('day', ts) AS day,
               CAST(value AS DECIMAL(20,4)) AS v,
               epoch_us(ts) AS t,
               LEAD(epoch_us(ts)) OVER (PARTITION BY user_id, date_trunc('day', ts)
                                        ORDER BY ts, event_id) AS nt
        FROM events)
    SELECT user_id, day, COUNT(*) AS n_intervals,
           ROUND(CAST(SUM(v * (nt - t)) AS DOUBLE)
                 / CAST(SUM(nt - t) AS BIGINT) - 1e-9, 6) + 0 AS twa
    FROM iv
    WHERE nt IS NOT NULL
    GROUP BY user_id, day
    HAVING CAST(SUM(nt - t) AS BIGINT) > 0
    ORDER BY user_id, day
    """,
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP — the finance/IoT aggregate where a
    reading HOLDS until the next one, so a plain mean over-weights
    bursts): per user-day, each event's value is weighted by the
    integer-microsecond gap to the next event in that day (lead over
    the user-day partition — user-keyed windows, never corpus-global),
    the last reading contributes no interval. Products stay in the
    DECIMAL x BIGINT domain, so the weighted sum is exact and
    order-independent; one IEEE division at the end. Zero-length days
    (all events at one instant) are excluded by the HAVING mirror."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    iv = ev.select(
        "user_id",
        F.date_trunc("day", "ts").alias("day"),
        F.col("value").cast("decimal(20,4)").alias("v"),
        F.unix_micros("ts").alias("t"),
        "ts",
        "event_id",
    ).withColumn("nt", F.lead(F.unix_micros("ts")).over(w))
    return (
        iv.filter(F.col("nt").isNotNull())
        .groupBy("user_id", "day")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.round(
                F.sum(F.col("v") * (F.col("nt") - F.col("t"))).cast("double")
                / F.sum(F.col("nt") - F.col("t"))
                - 1e-9,
                6,
            ).alias("twa"),
            F.sum(F.col("nt") - F.col("t")).alias("_dur"),
        )
        .filter(F.col("_dur") > 0)
        .drop("_dur")
        .orderBy("user_id", "day")
    )


@register(
    "q_rank_movers",
    oracle="""
    WITH monthly AS (
        SELECT n.n_name, date_trunc('month', o.o_orderdate) AS month,
               SUM(CAST(o.o_totalprice AS DECIMAL(20,2))) AS rev
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name, date_trunc('month', o.o_orderdate)),
    ranked AS (
        SELECT n_name, month,
               CAST(RANK() OVER (PARTITION BY month
                                 ORDER BY rev DESC, n_name) AS INT) AS rnk
        FROM monthly),
    delta AS (
        SELECT n_name, month, rnk,
               LAG(rnk) OVER (PARTITION BY n_name ORDER BY month) AS prev_rnk
        FROM ranked)
    SELECT CAST(month AS TIMESTAMP) AS month, n_name, rnk, prev_rnk,
           prev_rnk - rnk AS rank_change
    FROM delta
    WHERE prev_rnk IS NOT NULL AND prev_rnk <> rnk
    ORDER BY month, rnk, n_name
    """,
)
def q_rank_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period rank movers — the BI 'biggest climbers /
    fallers' readout: nations ranked by exact-DECIMAL monthly revenue
    (dims broadcast into the fact aggregation), consecutive-month rank
    deltas via lag over the nation partition. Both windows run on the
    nation x month AGGREGATED frame (hundreds of rows at any corpus
    size) — the fact table never sees a window. Only nation (25 rows)
    is pinned broadcast; customer scales with the corpus, so its join
    is left to AQE (shuffle hash at scale, broadcast when small)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(20,2)")).alias("rev"))
    )
    ranked = monthly.select(
        "n_name",
        "month",
        F.rank()
        .over(Window.partitionBy("month").orderBy(F.col("rev").desc(), "n_name"))
        .cast("int")
        .alias("rnk"),
    )
    delta = ranked.withColumn(
        "prev_rnk", F.lag("rnk").over(Window.partitionBy("n_name").orderBy("month"))
    )
    return (
        delta.filter(F.col("prev_rnk").isNotNull() & (F.col("prev_rnk") != F.col("rnk")))
        .select(
            "month",
            "n_name",
            "rnk",
            "prev_rnk",
            (F.col("prev_rnk") - F.col("rnk")).alias("rank_change"),
        )
        .orderBy("month", "rnk", "n_name")
    )


@register(
    "q_negative_sampling",
    oracle="""
    WITH buyers AS (SELECT DISTINCT o_custkey FROM orders),
    nb AS (SELECT GREATEST(64, CAST(CEIL(COUNT(*) / 256.0) AS BIGINT)) AS b
           FROM part),
    purchased AS (
        SELECT DISTINCT o.o_custkey, l.l_partkey
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    pb AS (SELECT p_partkey,
                  CAST(concat('0x', substr(md5(CAST(p_partkey AS VARCHAR)), 1, 8))
                       AS BIGINT) % (SELECT b FROM nb) AS bucket
           FROM part),
    cand AS (
        SELECT b.o_custkey, pb.p_partkey,
               md5(CAST(b.o_custkey AS VARCHAR) || ':'
                   || CAST(pb.p_partkey AS VARCHAR)) AS rk
        FROM buyers b
        JOIN pb ON pb.bucket =
             CAST(concat('0x', substr(md5(CAST(b.o_custkey AS VARCHAR)), 1, 8))
                  AS BIGINT) % (SELECT b FROM nb)),
    neg AS (
        SELECT c.o_custkey, c.p_partkey, c.rk
        FROM cand c
        LEFT JOIN purchased p
          ON p.o_custkey = c.o_custkey AND p.l_partkey = c.p_partkey
        WHERE p.o_custkey IS NULL)
    SELECT o_custkey, p_partkey AS neg_partkey, neg_rank
    FROM (SELECT o_custkey, p_partkey,
                 CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                                         ORDER BY rk, p_partkey) AS INT)
                   AS neg_rank
          FROM neg)
    WHERE neg_rank <= 5
    ORDER BY o_custkey, neg_rank
    """,
)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling — the contrastive-training
    data op (recsys two-tower / word2vec negatives): for every buyer,
    5 parts they did NOT purchase, drawn reproducibly. The scale
    trick: parts hash into B buckets and each user probes ONLY its
    md5-assigned bucket, so the candidate join is |users| x
    |parts|/B — and B GROWS with the catalog (GREATEST(64,
    ceil(|parts|/256)), a 1-row broadcast both engines derive from
    COUNT(part)), so per-user candidates stay ~256 at any catalog
    size. At gate scales B stays 64 (identical results); the sf1
    smoke (r9) measured the fixed-64 version at 599 s — ~3.1k
    md5-ranked candidates per user — vs the O(1)-per-user knob the
    docstring had only described. No user ever scans the full catalog
    and there is no RNG state — md5(user:part) ranks candidates, the
    purchased anti-join removes positives, a user-partitioned
    row_number takes the top 5."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    buyers = o.select("o_custkey").distinct()
    nb = p.agg(
        F.greatest(
            F.lit(64), F.ceil(F.count(F.lit(1)) / 256.0).cast("long")
        ).alias("b")
    )
    purchased = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_partkey")
        .distinct()
    )
    ub = (
        F.conv(F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % F.col("b")
    )
    pb = p.crossJoin(F.broadcast(nb)).select(
        "p_partkey",
        (
            F.conv(F.substring(F.md5(F.col("p_partkey").cast("string")), 1, 8), 16, 10)
            .cast("long")
            % F.col("b")
        ).alias("bucket"),
    )
    cand = (
        buyers.crossJoin(F.broadcast(nb))
        .withColumn("bucket", ub)
        .drop("b")
        .join(pb, on="bucket")
        .select(
            "o_custkey",
            "p_partkey",
            F.md5(
                F.concat(
                    F.col("o_custkey").cast("string"),
                    F.lit(":"),
                    F.col("p_partkey").cast("string"),
                )
            ).alias("rk"),
        )
    )
    neg = cand.join(
        purchased.withColumnRenamed("l_partkey", "p_partkey"),
        on=["o_custkey", "p_partkey"],
        how="left_anti",
    )
    w = Window.partitionBy("o_custkey").orderBy("rk", "p_partkey")
    return (
        neg.select(
            "o_custkey",
            F.col("p_partkey").alias("neg_partkey"),
            F.row_number().over(w).cast("int").alias("neg_rank"),
        )
        .filter(F.col("neg_rank") <= 5)
        .orderBy("o_custkey", "neg_rank")
    )


# l-diversity ladder: a k-anonymous group is still unsafe if everyone
# in it shares the sensitive value (homogeneity attack) — the audit
# requires >= _L_DIVERSITY distinct sensitive values per QI group.
_L_DIVERSITY = 3


@register(
    "q_l_diversity",
    oracle=f"""
    SELECT n.n_name, c.c_mktsegment,
           COUNT(*) AS n,
           COUNT(DISTINCT CASE
               WHEN c.c_acctbal < 0 THEN 'debt'
               WHEN c.c_acctbal < 2500 THEN 'low'
               WHEN c.c_acctbal < 7500 THEN 'mid'
               ELSE 'high' END) AS l_distinct,
           CASE WHEN COUNT(DISTINCT CASE
               WHEN c.c_acctbal < 0 THEN 'debt'
               WHEN c.c_acctbal < 2500 THEN 'low'
               WHEN c.c_acctbal < 7500 THEN 'mid'
               ELSE 'high' END) >= {_L_DIVERSITY}
               THEN 'ok' ELSE 'violating' END AS verdict
    FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name, c.c_mktsegment
    ORDER BY n.n_name, c.c_mktsegment
    """,
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the companion check to q_k_anonymity's group
    SIZES: a quasi-identifier group whose members all share one
    sensitive value leaks it regardless of k (the homogeneity attack,
    Machanavajjhala et al. 2007). Sensitive attribute = the account-
    balance band (4 fixed boundaries, deterministic); per (nation,
    segment) QI group the audit reports the distinct-band count and an
    ok/violating verdict at l = 3. One scan, one group-cardinality
    aggregate with a distinct-count (partial-aggregated two-phase
    shuffle), nation broadcast — the same 100 TB shape as any
    per-group COUNT DISTINCT."""
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    band = (
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 2500, "low")
        .when(F.col("c_acctbal") < 7500, "mid")
        .otherwise("high")
    )
    return (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .select("n_name", "c_mktsegment", band.alias("band"))
        .groupBy("n_name", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("band").alias("l_distinct"),
        )
        .withColumn(
            "verdict",
            F.when(F.col("l_distinct") >= _L_DIVERSITY, "ok").otherwise(
                "violating"
            ),
        )
        .orderBy("n_name", "c_mktsegment")
    )


# Interval-overlap join: hours with at least this many events count as
# "hot" (interpolated into both engines).
_OVERLAP_HOT_N = 20


@register(
    "q_interval_overlap_join",
    oracle=f"""
    WITH spans AS (
        SELECT user_id, date_trunc('day', ts) AS day,
               MIN(ts) AS amin, MAX(ts) AS amax
        FROM events GROUP BY 1, 2),
    hot AS (
        SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n_events
        FROM events GROUP BY 1 HAVING COUNT(*) >= {_OVERLAP_HOT_N})
    SELECT s.user_id, CAST(s.day AS TIMESTAMP) AS day,
           CAST(h.hour AS TIMESTAMP) AS hour, h.n_events,
           CAST((epoch_us(LEAST(s.amax, h.hour + INTERVAL 1 HOUR))
                 - epoch_us(GREATEST(s.amin, h.hour))) // 1000000
                AS BIGINT) AS overlap_seconds
    FROM spans s JOIN hot h
      ON h.hour >= date_trunc('hour', s.amin)
     AND h.hour <= date_trunc('hour', s.amax)
    ORDER BY user_id, day, hour
    """,
)
def q_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-OVERLAP join with NO shared key — the join shape Spark
    cannot hash: user-day activity spans [min ts, max ts] matched
    against "hot hours" (hourly buckets with >= 20 events) purely on
    time overlap. A naive inequality join plans as a nested-loop /
    cartesian product (|spans| x |hot| comparisons — dead at scale);
    here the span side EXPLODES into the hour buckets it covers
    (sequence(), bounded fan-out: a span lives inside one day, so
    <= 24 rows per span) and the match becomes a plain HASH join on
    the hour key — O(N x 24) shuffled rows, zero comparisons outside
    the bucket. The DuckDB oracle deliberately keeps the RAW
    inequality join (its IEJoin handles gate scale), proving the
    bucketization is a pure optimization with identical semantics.
    Overlap seconds come from integer epoch-microsecond arithmetic
    (exact in both engines; a span touching the hour edge reports 0)."""
    ev = _t(spark, sf_dir, "events")
    spans = ev.groupBy("user_id", F.date_trunc("day", "ts").alias("day")).agg(
        F.min("ts").alias("amin"), F.max("ts").alias("amax")
    )
    hot = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .filter(F.col("n_events") >= _OVERLAP_HOT_N)
    )
    bucketed = spans.withColumn(
        "hour",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "amin"),
                F.date_trunc("hour", "amax"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ),
    )
    overlap = (
        F.unix_micros(
            F.least(F.col("amax"), F.col("hour") + F.expr("INTERVAL 1 HOUR"))
        )
        - F.unix_micros(F.greatest(F.col("amin"), F.col("hour")))
    )
    return (
        bucketed.join(hot, on="hour")  # manufactured equi-key: hash join
        .select(
            "user_id",
            "day",
            "hour",
            "n_events",
            F.floor(overlap / F.lit(1000000)).cast("long").alias(
                "overlap_seconds"
            ),
        )
        .orderBy("user_id", "day", "hour")
    )


# Wilson-score z for 95% confidence; written as the literal product
# 1.96*1.96 in BOTH engines so constant folding yields the identical
# IEEE double on each side.
_WILSON_EXPR = (
    "(phat + (1.96*1.96)/(2*nd) - 1.96*sqrt((phat*(1.0-phat)"
    " + (1.96*1.96)/(4*nd))/nd)) / (1.0 + (1.96*1.96)/nd)"
)


@register(
    "q_wilson_returns",
    oracle=f"""
    WITH st AS (
        SELECT l_partkey AS partkey,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_returned
        FROM lineitem GROUP BY 1),
    sc AS (
        SELECT partkey, n_lines, n_returned,
               CAST(n_returned AS DOUBLE) / n_lines AS phat,
               CAST(n_lines AS DOUBLE) AS nd
        FROM st)
    SELECT partkey, n_lines, n_returned,
           ROUND(phat - 1e-9, 6) + 0 AS return_rate,
           ROUND({_WILSON_EXPR} - 1e-9, 6) + 0 AS wilson_lb
    FROM sc
    ORDER BY wilson_lb DESC, partkey
    LIMIT 20
    """,
)
def q_wilson_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson-score lower-bound ranking of per-part return rates — the
    'sort by rating' primitive done right: the naive rate ranks a
    1-of-1 returned part above a 40-of-100 one, while the 95% Wilson
    lower bound discounts small samples, which is exactly why it is
    the standard ranking for CTR / ratings / defect rates under
    uncertainty.  Counts are one partial-aggregated groupBy over the
    fact table (map-side combine, part-cardinality result frame); the
    Wilson formula is pure IEEE arithmetic on the aggregated frame
    with the z^2 constant folded identically in both engines, and the
    top-20 is a TakeOrderedAndProject on the (rounded score, partkey)
    key — never a global sort of the fact table."""
    li = _t(spark, sf_dir, "lineitem")
    st = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(
            F.when(F.col("l_returnflag") == "R", F.lit(1)).otherwise(F.lit(0))
        ).alias("n_returned"),
    )
    sc = st.select(
        "partkey",
        "n_lines",
        "n_returned",
        (F.col("n_returned").cast("double") / F.col("n_lines")).alias("phat"),
        F.col("n_lines").cast("double").alias("nd"),
    )
    return (
        sc.select(
            "partkey",
            "n_lines",
            "n_returned",
            fround(F.col("phat"), 6).alias("return_rate"),
            fround(F.expr(_WILSON_EXPR), 6).alias("wilson_lb"),
        )
        .orderBy(F.col("wilson_lb").desc(), "partkey")
        .limit(20)
    )


# Deterministic Poisson(1) bootstrap: cumulative CDF thresholds written
# as shared DOUBLE literals (e^-1 * sum 1/j!) so the inverse-CDF CASE
# ladder folds to the identical constants in both engines; weights cap
# at 7 (P(X>7) ~ 1e-5 — the tail mass lands on the last bucket).
_BOOT_THRESH = (
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238462", "0.9963401531726563", "0.9994058151824183",
    "0.9999167588507119",
)
_BOOT_B = 64
_BOOT_CASE = (
    "CASE "
    + " ".join(
        f"WHEN u < {t} THEN {k}" for k, t in enumerate(_BOOT_THRESH)
    )
    + " ELSE 7 END"
)


@register(
    "q_bootstrap_ci",
    oracle=f"""
    WITH reps AS (
        SELECT o.o_orderpriority AS priority, gs.b,
               CAST(concat('0x', substr(md5(CAST(o.o_orderkey AS VARCHAR)
                    || '-' || CAST(gs.b AS VARCHAR)), 1, 13)) AS BIGINT)
                 / 4503599627370496.0 AS u,
               CAST(o.o_totalprice AS DECIMAL(20,4)) AS price
        FROM orders o, generate_series(0, {_BOOT_B - 1}) gs(b)),
    wts AS (SELECT priority, b, {_BOOT_CASE} AS w, price FROM reps),
    means AS (
        SELECT priority, b,
               ROUND(CAST(SUM(w * price) AS DOUBLE)
                     / GREATEST(CAST(SUM(w) AS BIGINT), 1) - 1e-9, 4) + 0
                   AS mean_b
        FROM wts GROUP BY 1, 2),
    fullm AS (
        SELECT o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                     / COUNT(*) - 1e-9, 4) + 0 AS mean_full
        FROM orders GROUP BY 1)
    SELECT f.priority, f.n_orders, f.mean_full,
           ROUND(quantile_cont(m.mean_b, 0.05) - 1e-9, 4) + 0 AS ci_lo,
           ROUND(quantile_cont(m.mean_b, 0.95) - 1e-9, 4) + 0 AS ci_hi
    FROM means m JOIN fullm f USING (priority)
    GROUP BY f.priority, f.n_orders, f.mean_full
    ORDER BY f.priority
    """,
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for the mean order value per
    priority — the resampling-based uncertainty quantification every
    metrics pipeline wants and naive RAND() can never gate: the
    Poisson bootstrap (each row enters replicate b with weight ~
    Poisson(1), the streaming-friendly bootstrap used at web scale
    because it needs no global resample pass) with md5-seeded
    inverse-CDF weights (q_dp_noisy_counts' determinism recipe), 64
    replicates, exact-decimal weighted means, and exact interpolated
    p05/p95 over the replicate means.  Scale shape: the explode is a
    CONSTANT 64x fan-out that partial-aggregates map-side into a
    (group x 64)-row frame; no shuffle grows with the bootstrap, and
    per-replicate means are decimal-exact so the CI hash-verifies."""
    o = _t(spark, sf_dir, "orders")
    # hash-repartition the 3-column projection BEFORE the 64x fan-out:
    # the md5 stage is CPU-bound at 64 hashes/row, so its parallelism
    # must come from the cluster, not the accident of input file
    # layout (a single small parquet file would otherwise run the
    # whole fan-out in one task — measured 15s -> ~2s at sf0.1); the
    # narrow pre-explode shuffle is cheap relative to the hash work at
    # every scale, and results are partition-independent
    reps = o.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").cast("decimal(20,4)").alias("price"),
    ).repartition(F.col("o_orderkey")).select(
        "priority",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
        "o_orderkey",
        "price",
    ).select(
        "priority",
        "b",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("o_orderkey").cast("string"),
                            F.lit("-"),
                            F.col("b").cast("string"),
                        )
                    ),
                    1,
                    13,
                ),
                16,
                10,
            ).cast("long")
            / F.lit(4503599627370496.0)
        ).alias("u"),
        "price",
    )
    wts = reps.select("priority", "b", F.expr(_BOOT_CASE).alias("w"), "price")
    means = wts.groupBy("priority", "b").agg(
        fround(
            F.sum(F.col("w") * F.col("price")).cast("double")
            / F.greatest(F.sum("w"), F.lit(1)),
            4,
        ).alias("mean_b")
    )
    full = o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        davg(F.col("o_totalprice")).alias("mean_full"),
    )
    return (
        means.groupBy("priority")
        .agg(
            fround(F.percentile(F.col("mean_b"), F.lit(0.05)), 4).alias("ci_lo"),
            fround(F.percentile(F.col("mean_b"), F.lit(0.95)), 4).alias("ci_hi"),
        )
        .join(full, "priority")
        .select("priority", "n_orders", "mean_full", "ci_lo", "ci_hi")
        .orderBy("priority")
    )


# AMS/Tug-of-war F2 sketch: 64 md5-seeded ±1 projections. Both the
# counter expressions and the estimate arithmetic are generated ONCE
# and shared verbatim between the Spark plan and the DuckDB oracle.
_F2_COUNTERS = 64


def _f2_sign_sql(j: int) -> str:
    return (
        "CASE WHEN CAST(concat('0x', substr(md5("
        f"CAST(user_id AS VARCHAR) || ':{j}'), 1, 8)) AS BIGINT) % 2 = 0 "
        "THEN 1 ELSE -1 END"
    )


def _f2_oracle() -> str:
    sums = ",\n               ".join(
        f"CAST(SUM({_f2_sign_sql(j)}) AS BIGINT) AS c{j}"
        for j in range(_F2_COUNTERS)
    )
    sq = " + ".join(
        f"CAST(c{j} AS DECIMAL(19,0)) * c{j}" for j in range(_F2_COUNTERS)
    )
    return f"""
    WITH s AS (
        SELECT {sums}
        FROM events),
    ex AS (
        SELECT CAST(SUM(CAST(cnt AS DECIMAL(19,0)) * cnt) AS DECIMAL(38,0))
                 AS f2_exact
        FROM (SELECT COUNT(*) AS cnt FROM events GROUP BY user_id))
    SELECT CAST({_F2_COUNTERS} AS BIGINT) AS n_counters,
           ROUND(CAST(({sq}) AS DOUBLE) / {_F2_COUNTERS} - 1e-9, 4) + 0
             AS f2_estimate,
           CAST(f2_exact AS BIGINT) AS f2_exact,
           ROUND(ABS(CAST(({sq}) AS DOUBLE) / {_F2_COUNTERS}
                     - CAST(f2_exact AS DOUBLE)) / CAST(f2_exact AS DOUBLE)
                 - 1e-9, 6) + 0 AS rel_error
    FROM s CROSS JOIN ex
    """


@register("q_f2_sketch", oracle=_f2_oracle())
def q_f2_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS 'tug-of-war' F2 sketch (Alon-Matias-Szegedy 1996): estimate
    the SECOND frequency moment of the user_id column — which IS the
    self-join size SUM(c_u^2), the quantity a planner needs before
    committing to a key (q_join_cardinality_estimate's exact histogram
    sibling) — from 64 md5-seeded +-1 projections. Each counter
    c_j = SUM_rows s_j(user) accumulates in ONE map-side-combinable
    pass (64 conditional sums in a single aggregate — no explode, no
    64x row blowup; the sketch is 64 ints, mergeable across
    partitions/batches/days by plain addition, which is the whole
    point at 100 TB). E[c_j^2] = F2 exactly; the estimate is the mean
    of the 64 squares (DECIMAL-exact squares, ONE IEEE division), and
    the result row carries the exact F2 plus the realized relative
    error — the sketch's accuracy is itself hash-verified, like the
    MinHash/KMV audits. Reference has no sketch surface; this extends
    the mandated scale-utility family (KMV, CMS, Bloom, 256-bin
    quantile hist)."""
    ev = _t(spark, sf_dir, "events")

    def sign(j: int):
        parity = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("user_id").cast("string"), F.lit(f":{j}"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 2
        )
        return F.when(parity == 0, 1).otherwise(-1)

    sums = [
        F.sum(sign(j)).cast("long").alias(f"c{j}")
        for j in range(_F2_COUNTERS)
    ]
    s = ev.agg(*sums)
    sq = None
    for j in range(_F2_COUNTERS):
        term = F.col(f"c{j}").cast("decimal(19,0)") * F.col(f"c{j}")
        sq = term if sq is None else sq + term
    est = sq.cast("double") / F.lit(_F2_COUNTERS)
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.sum(F.col("cnt").cast("decimal(19,0)") * F.col("cnt"))
            .cast("decimal(38,0)")
            .alias("f2_exact")
        )
    )
    return s.crossJoin(F.broadcast(exact)).select(
        F.lit(_F2_COUNTERS).cast("long").alias("n_counters"),
        fround(est, 4).alias("f2_estimate"),
        F.col("f2_exact").cast("long").alias("f2_exact"),
        fround(
            F.abs(est - F.col("f2_exact").cast("double"))
            / F.col("f2_exact").cast("double"),
            6,
        ).alias("rel_error"),
    )


@register(
    "q_hll_distinct",
    oracle="""
    WITH u AS (
        SELECT event_type,
               CAST(concat('0x', substr(md5(
                    CAST(user_id AS VARCHAR) || ':'
                    || CAST(CAST(ts AS DATE) AS VARCHAR)), 1, 15))
                    AS BIGINT) AS h
        FROM events WHERE user_id IS NOT NULL),
    r AS (
        SELECT event_type, h % 256 AS bucket,
               MAX(53 - length(ltrim(bin(h // 256), '0'))) AS m
        FROM u GROUP BY 1, 2),
    merged AS (SELECT bucket, MAX(m) AS m FROM r GROUP BY 1),
    direct AS (
        SELECT h % 256 AS bucket,
               MAX(53 - length(ltrim(bin(h // 256), '0'))) AS m
        FROM u GROUP BY 1),
    dense AS (
        SELECT gs.b AS bucket,
               COALESCE(md.m, 0) AS m_merged,
               COALESCE(dd.m, 0) AS m_direct
        FROM generate_series(0, 255) gs(b)
        LEFT JOIN merged md ON md.bucket = gs.b
        LEFT JOIN direct dd ON dd.bucket = gs.b),
    s AS (
        SELECT CAST(SUM(CAST(1 AS BIGINT) << (53 - m_direct)) AS BIGINT) AS sn,
               BOOL_AND(m_merged = m_direct) AS ok
        FROM dense),
    ex AS (SELECT CAST(COUNT(DISTINCT CAST(user_id AS VARCHAR) || ':'
                    || CAST(CAST(ts AS DATE) AS VARCHAR)) AS BIGINT) AS n_exact
           FROM events WHERE user_id IS NOT NULL)
    SELECT n_exact,
           CAST(256 AS BIGINT) AS n_registers,
           ROUND(0.7213 / (1.0 + 1.079 / 256.0) * 65536.0
                 * 9007199254740992.0 / sn - 1e-9, 4) + 0 AS hll_estimate,
           ROUND(ABS(0.7213 / (1.0 + 1.079 / 256.0) * 65536.0
                     * 9007199254740992.0 / sn - n_exact)
                 / n_exact - 1e-9, 6) + 0 AS rel_error,
           ok AS merged_matches_direct
    FROM s CROSS JOIN ex
    """,
)
def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOUSE HyperLogLog (Flajolet et al. 2007), oracle-EXACT (r10):
    unlike `q_approx_distinct_users` (Spark's built-in
    approx_count_distinct — engine-specific, hence rows-only), this
    builds the 256-register sketch over DISTINCT USER-DAYS (the DAU
    aggregate's input, ~27x the user cardinality — inside
    HLL's raw regime n > 2.5m at the gate SFs) from scratch with
    md5-derived 60-bit hashes — bucket = low 8 bits, rank = leading-zero count of
    the 52-bit remainder via length(ltrim(bin(x))), identical
    arithmetic in both engines — so the ESTIMATE ITSELF hash-verifies.
    Mergeability is demonstrated in-row: registers built per
    event_type and max-merged must equal the directly-built registers
    (merged_matches_direct). The raw-regime estimator
    alpha_m * m^2 / sum(2^-M_j) is computed with exact integer dyadics
    (sum of 1 << (53-M) — max 2^61, no overflow) and ONE IEEE
    division; the small-range linear-counting correction needs ln()
    and is deliberately out of the cross-engine-exact subset (the
    user-day cardinality keeps every SF in the raw regime — ~4k at
    sf0.01 and ~40k at sf0.1 vs the 640 small-range boundary (sf0.001's
    397 dips under it — realized errors 12%/1.4%/0.3%, all reported); rel_error is reported
    in-row either way). Sketch = 256 small ints: mergeable by register
    max across partitions/days/sources — the 100 TB posture."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    key = F.concat(
        F.col("user_id").cast("string"),
        F.lit(":"),
        F.col("ts").cast("date").cast("string"),
    )
    h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")
    u = ev.select("event_type", h.alias("h"))
    rank = F.lit(53) - F.length(F.expr("ltrim('0', bin(h DIV 256))"))
    r = u.groupBy("event_type", (F.col("h") % 256).alias("bucket")).agg(
        F.max(rank).alias("m")
    )
    merged = r.groupBy("bucket").agg(F.max("m").alias("m_merged"))
    direct = u.groupBy((F.col("h") % 256).alias("bucket")).agg(
        F.max(rank).alias("m_direct")
    )
    dense = (
        spark.range(256)
        .select(F.col("id").cast("long").alias("bucket"))
        .join(merged, "bucket", "left")
        .join(direct, "bucket", "left")
        .select(
            F.coalesce("m_merged", F.lit(0)).alias("m_merged"),
            F.coalesce("m_direct", F.lit(0)).alias("m_direct"),
        )
    )
    s = dense.agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 53 - m_direct)")).alias("sn"),
        F.expr("bool_and(m_merged = m_direct)").alias("ok"),
    )
    ex = ev.agg(F.countDistinct(key).alias("n_exact"))
    est = (
        F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(256.0))
        * F.lit(65536.0)
        * F.lit(9007199254740992.0)
        / F.col("sn")
    )
    return s.crossJoin(F.broadcast(ex)).select(
        "n_exact",
        F.lit(256).cast("long").alias("n_registers"),
        fround(est, 4).alias("hll_estimate"),
        fround(F.abs(est - F.col("n_exact")) / F.col("n_exact"), 6).alias(
            "rel_error"
        ),
        F.col("ok").alias("merged_matches_direct"),
    )


# --- k-hop BFS reachability (fixed-iteration frontier expansion) -------------

_KHOP = 3
_KHOP_SEEDS = 5


@register(
    "q_khop_reach",
    oracle=f"""
    WITH RECURSIVE
    op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pr AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb
           FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                             AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    edges AS (SELECT pa AS a, pb AS b FROM pr
              UNION ALL SELECT pb, pa FROM pr),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    seeds AS (SELECT node FROM nodes ORDER BY node LIMIT {_KHOP_SEEDS}),
    bfs(node, hop) AS (
        SELECT node, 0 FROM seeds
        UNION
        SELECT e.b, bfs.hop + 1
        FROM bfs JOIN edges e ON e.a = bfs.node
        WHERE bfs.hop < {_KHOP}
    ),
    reach AS (SELECT node, MIN(hop) AS hop FROM bfs GROUP BY node)
    SELECT hop, CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(node) AS BIGINT) AS min_node,
           CAST(MAX(node) AS BIGINT) AS max_node
    FROM reach GROUP BY hop ORDER BY hop
    """,
)
def q_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-hop BFS reachability over the co-purchase graph — the
    fixed-iteration FRONTIER-EXPANSION pattern (the graph family's
    missing third member beside PageRank's value iteration and the
    connected-components label propagation): from the 5 smallest nodes
    of the support>=2 co-purchase edge set, 3 hop-synchronous rounds of
    frontier JOIN edges with an anti-join against the visited set —
    each node is claimed by its MINIMUM hop exactly as BFS defines, and
    the per-hop newly-reached counts + node-id bounds are the result.
    Edge generation is the q_copurchase_pairs basket-bounded self-join
    (never |parts|^2); each round is one hash join + distinct + anti
    join, all key-partitioned — the shape that runs a trillion-edge
    graph hop by hop. The oracle replays BFS as a depth-bounded
    RECURSIVE CTE in UNION (distinct) mode with MIN(hop) per node."""
    li = _t(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a = op.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = op.select("l_orderkey", F.col("l_partkey").alias("pb"))
    pr = (
        a.join(b, on="l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
        .select("pa", "pb")
    )
    edges = pr.select(F.col("pa").alias("a"), F.col("pb").alias("b")).unionByName(
        pr.select(F.col("pb").alias("a"), F.col("pa").alias("b"))
    )
    from cpx_etl_spark.operators.components import bfs_min_hop

    seeds = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .orderBy("node")
        .limit(_KHOP_SEEDS)
    )
    visited = bfs_min_hop(edges, seeds, _KHOP)
    return (
        visited.groupBy("hop")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
        )
        .orderBy("hop")
    )


# --- linear multi-touch attribution ------------------------------------------


@register(
    "q_attribution_linear",
    oracle=f"""
    WITH p AS (SELECT event_id, user_id, ts AS p_ts, value
               FROM events WHERE event_type = 'purchase'),
    c AS (SELECT user_id AS c_user, ts AS c_ts
          FROM events WHERE event_type = 'click'),
    j AS (SELECT p.event_id, p.p_ts, p.value, c.c_ts,
                 COUNT(c.c_ts) OVER (PARTITION BY p.event_id) AS n
          FROM p LEFT JOIN c
            ON c.c_user = p.user_id
           AND c.c_ts <= p.p_ts
           AND c.c_ts > p.p_ts - INTERVAL 1 HOUR),
    touch AS (SELECT date_trunc('day', c_ts) AS day,
                     CAST(COUNT(*) AS BIGINT) AS n_touches,
                     {sql_dsum("ROUND(value / n - 1e-9, 6)")} AS rev_linear
              FROM j WHERE c_ts IS NOT NULL GROUP BY 1),
    org AS (SELECT date_trunc('day', p_ts) AS day,
                   CAST(COUNT(*) AS BIGINT) AS n_organic,
                   {sql_dsum("value")} AS rev_organic
            FROM j WHERE c_ts IS NULL GROUP BY 1)
    SELECT COALESCE(t.day, o.day) AS day,
           COALESCE(t.n_touches, 0) AS n_touches,
           COALESCE(t.rev_linear, 0.0) + 0 AS rev_linear,
           COALESCE(o.n_organic, 0) AS n_organic,
           COALESCE(o.rev_organic, 0.0) + 0 AS rev_organic
    FROM touch t FULL OUTER JOIN org o ON t.day = o.day
    ORDER BY day
    """,
)
def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR multi-touch attribution — the fractional-credit sibling
    of q_attribution_last_touch: every same-user click within the hour
    before a purchase receives an equal value/n share, credited to the
    CLICK's day (which is what makes multi-touch a different daily
    series from any single-touch rule; clickless purchases stay organic
    revenue on the purchase day). One time-banded LEFT join + a
    purchase-keyed window count, then two day rollups full-outer-merged
    with zero fills. Cross-engine exactness: value/n is ONE IEEE
    division, tie-rounded at 6dp per credit, then DECIMAL-summed —
    order-independent."""
    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("p_ts"), "value"
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    j = p.join(
        c,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "left",
    ).withColumn(
        "n", F.count("c_ts").over(Window.partitionBy("event_id"))
    )
    touch = (
        j.filter(F.col("c_ts").isNotNull())
        .groupBy(F.date_trunc("day", "c_ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            dsum(fround(F.col("value") / F.col("n"), 6)).alias("rev_linear"),
        )
    )
    org = (
        j.filter(F.col("c_ts").isNull())
        .groupBy(F.date_trunc("day", "p_ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_organic"),
            dsum(F.col("value")).alias("rev_organic"),
        )
    )
    return (
        touch.join(org, on="day", how="full")
        .select(
            "day",
            F.coalesce("n_touches", F.lit(0)).alias("n_touches"),
            F.coalesce("rev_linear", F.lit(0.0)).alias("rev_linear"),
            F.coalesce("n_organic", F.lit(0)).alias("n_organic"),
            F.coalesce("rev_organic", F.lit(0.0)).alias("rev_organic"),
        )
        .orderBy("day")
    )


@register(
    "q_attribution_time_decay",
    oracle=f"""
    WITH p AS (SELECT event_id, user_id, ts AS p_ts, value
               FROM events WHERE event_type = 'purchase'),
    c AS (SELECT user_id AS c_user, ts AS c_ts
          FROM events WHERE event_type = 'click'),
    j AS (SELECT p.event_id, p.p_ts, p.value, c.c_ts,
                 CASE WHEN c.c_ts IS NULL THEN NULL
                      ELSE CASE (epoch_us(p.p_ts) - epoch_us(c.c_ts))
                                // 60000000 // 15
                           WHEN 0 THEN 8 WHEN 1 THEN 4
                           WHEN 2 THEN 2 ELSE 1 END
                 END AS w
          FROM p LEFT JOIN c
            ON c.c_user = p.user_id
           AND c.c_ts <= p.p_ts
           AND c.c_ts > p.p_ts - INTERVAL 1 HOUR),
    jw AS (SELECT *, SUM(w) OVER (PARTITION BY event_id) AS sum_w FROM j),
    touch AS (SELECT date_trunc('day', c_ts) AS day,
                     CAST(COUNT(*) AS BIGINT) AS n_touches,
                     {sql_dsum("ROUND(value * w / sum_w - 1e-9, 6)")}
                         AS rev_decay
              FROM jw WHERE c_ts IS NOT NULL GROUP BY 1),
    org AS (SELECT date_trunc('day', p_ts) AS day,
                   CAST(COUNT(*) AS BIGINT) AS n_organic,
                   {sql_dsum("value")} AS rev_organic
            FROM jw WHERE c_ts IS NULL GROUP BY 1)
    SELECT COALESCE(t.day, o.day) AS day,
           COALESCE(t.n_touches, 0) AS n_touches,
           COALESCE(t.rev_decay, 0.0) + 0 AS rev_decay,
           COALESCE(o.n_organic, 0) AS n_organic,
           COALESCE(o.rev_organic, 0.0) + 0 AS rev_organic
    FROM touch t FULL OUTER JOIN org o ON t.day = o.day
    ORDER BY day
    """,
)
def q_attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-DECAY multi-touch attribution — completes the heuristic
    attribution family (last-touch / linear / position / Markov):
    clicks within the hour before a purchase earn credit that HALVES
    per 15-minute age bucket (weights 8/4/2/1 — dyadic INTEGERS, so
    the decay curve is bit-exact cross-engine with no fractional
    pow()), normalized per purchase (value * w / sum_w is one IEEE
    multiply + divide, tie-rounded at 6dp, then DECIMAL-summed by the
    click's day). Clickless purchases stay organic revenue on the
    purchase day. Same plan skeleton as q_attribution_linear: one
    time-banded LEFT join + purchase-keyed window sum + two day
    rollups full-outer-merged."""
    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("p_ts"), "value"
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    age_bucket = (
        (F.unix_micros(F.col("p_ts")) - F.unix_micros(F.col("c_ts")))
        / F.lit(60000000)
    ).cast("long") / F.lit(15)
    w_expr = F.when(F.col("c_ts").isNull(), F.lit(None)).otherwise(
        F.element_at(
            F.array(F.lit(8), F.lit(4), F.lit(2), F.lit(1)),
            age_bucket.cast("int") + 1,
        )
    )
    j = p.join(
        c,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "left",
    ).withColumn("w", w_expr)
    jw = j.withColumn(
        "sum_w", F.sum("w").over(Window.partitionBy("event_id"))
    )
    touch = (
        jw.filter(F.col("c_ts").isNotNull())
        .groupBy(F.date_trunc("day", "c_ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            dsum(
                fround(F.col("value") * F.col("w") / F.col("sum_w"), 6)
            ).alias("rev_decay"),
        )
    )
    org = (
        jw.filter(F.col("c_ts").isNull())
        .groupBy(F.date_trunc("day", "p_ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_organic"),
            dsum(F.col("value")).alias("rev_organic"),
        )
    )
    return (
        touch.join(org, on="day", how="full")
        .select(
            "day",
            F.coalesce("n_touches", F.lit(0)).alias("n_touches"),
            F.coalesce("rev_decay", F.lit(0.0)).alias("rev_decay"),
            F.coalesce("n_organic", F.lit(0)).alias("n_organic"),
            F.coalesce("rev_organic", F.lit(0.0)).alias("rev_organic"),
        )
        .orderBy("day")
    )


@register(
    "q_attribution_position",
    oracle=f"""
    WITH p AS (SELECT event_id, user_id, ts AS p_ts, value
               FROM events WHERE event_type = 'purchase'),
    c AS (SELECT event_id AS c_event_id, user_id AS c_user, ts AS c_ts
          FROM events WHERE event_type = 'click'),
    j AS (SELECT p.event_id, p.p_ts, p.value, c.c_ts, c.c_event_id
          FROM p LEFT JOIN c
            ON c.c_user = p.user_id
           AND c.c_ts <= p.p_ts
           AND c.c_ts > p.p_ts - INTERVAL 1 HOUR),
    jr AS (SELECT *,
                  ROW_NUMBER() OVER (PARTITION BY event_id
                                     ORDER BY c_ts, c_event_id) AS rn,
                  COUNT(c_ts) OVER (PARTITION BY event_id) AS n
           FROM j),
    sh AS (SELECT *,
                  CASE WHEN n = 1 THEN 1.0
                       WHEN n = 2 THEN 0.5
                       WHEN rn = 1 OR rn = n THEN 0.4
                       ELSE 0.2 / (n - 2) END AS share
           FROM jr),
    touch AS (SELECT date_trunc('day', c_ts) AS day,
                     CAST(COUNT(*) AS BIGINT) AS n_touches,
                     {sql_dsum("ROUND(value * share - 1e-9, 6)")}
                         AS rev_position
              FROM sh WHERE c_ts IS NOT NULL GROUP BY 1),
    org AS (SELECT date_trunc('day', p_ts) AS day,
                   CAST(COUNT(*) AS BIGINT) AS n_organic,
                   {sql_dsum("value")} AS rev_organic
            FROM sh WHERE c_ts IS NULL GROUP BY 1)
    SELECT COALESCE(t.day, o.day) AS day,
           COALESCE(t.n_touches, 0) AS n_touches,
           COALESCE(t.rev_position, 0.0) + 0 AS rev_position,
           COALESCE(o.n_organic, 0) AS n_organic,
           COALESCE(o.rev_organic, 0.0) + 0 AS rev_organic
    FROM touch t FULL OUTER JOIN org o ON t.day = o.day
    ORDER BY day
    """,
)
def q_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POSITION-BASED (U-shaped) multi-touch attribution — the
    first-and-last-weighted member of the attribution family: within
    each purchase's 1h click journey the FIRST and LAST touch earn 40%
    each and the middles split the remaining 20% equally (1 touch
    -> 100%, 2 -> 50/50). Touch order is deterministic (c_ts with
    click event_id tiebreak — equal-timestamp clicks cannot flip the
    U). Shares are at most one IEEE division (0.2/(n-2)), credits
    tie-rounded at 6dp and DECIMAL-summed by click day; organic
    purchases roll up separately. Same banded-join skeleton as the
    linear/time-decay siblings; the only windows are purchase-keyed
    (journey-sized frames)."""
    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("p_ts"), "value"
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_event_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    j = p.join(
        c,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "left",
    )
    wp = Window.partitionBy("event_id")
    jr = j.withColumn(
        "rn", F.row_number().over(wp.orderBy("c_ts", "c_event_id"))
    ).withColumn("n", F.count("c_ts").over(wp))
    share = (
        F.when(F.col("n") == 1, F.lit(1.0))
        .when(F.col("n") == 2, F.lit(0.5))
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("n") - 2))
    )
    sh = jr.withColumn("share", share)
    touch = (
        sh.filter(F.col("c_ts").isNotNull())
        .groupBy(F.date_trunc("day", "c_ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            dsum(fround(F.col("value") * F.col("share"), 6))
            .alias("rev_position"),
        )
    )
    org = (
        sh.filter(F.col("c_ts").isNull())
        .groupBy(F.date_trunc("day", "p_ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_organic"),
            dsum(F.col("value")).alias("rev_organic"),
        )
    )
    return (
        touch.join(org, on="day", how="full")
        .select(
            "day",
            F.coalesce("n_touches", F.lit(0)).alias("n_touches"),
            F.coalesce("rev_position", F.lit(0.0)).alias("rev_position"),
            F.coalesce("n_organic", F.lit(0)).alias("n_organic"),
            F.coalesce("rev_organic", F.lit(0.0)).alias("rev_organic"),
        )
        .orderBy("day")
    )


@register(
    "q_seasonal_naive_backtest",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2),
    bounds AS (SELECT MIN(CAST(ts AS DATE)) AS d0,
                      MAX(CAST(ts AS DATE)) AS d1 FROM events),
    grid AS (
        SELECT t.event_type, gs.di
        FROM (SELECT DISTINCT event_type FROM events) t
        CROSS JOIN (SELECT unnest(generate_series(0,
            (SELECT datediff('day', d0, d1) FROM bounds))) AS di) gs),
    dense AS (
        SELECT g.event_type, g.di, COALESCE(d.y, 0) AS y
        FROM grid g
        LEFT JOIN (SELECT event_type,
                          datediff('day', (SELECT d0 FROM bounds), day)
                              AS di,
                          y FROM daily) d
          ON d.event_type = g.event_type AND d.di = g.di),
    lagged AS (
        SELECT event_type, di, y,
               LAG(y, 7) OVER (PARTITION BY event_type ORDER BY di) AS y7,
               LAG(y, 1) OVER (PARTITION BY event_type ORDER BY di) AS y1
        FROM dense),
    agg AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(CASE WHEN y7 IS NOT NULL
                             THEN abs(y - y7) END) AS BIGINT) AS sae7,
               CAST(COUNT(y7) AS BIGINT) AS n7,
               CAST(SUM(CASE WHEN y1 IS NOT NULL
                             THEN abs(y - y1) END) AS BIGINT) AS sae1,
               CAST(COUNT(y1) AS BIGINT) AS n1
        FROM lagged GROUP BY 1)
    SELECT event_type, n_days, sae7, sae1,
           ROUND(CAST(sae7 AS DOUBLE) / n7 - 1e-9, 6) + 0 AS mae_snaive,
           ROUND(CAST(sae1 AS DOUBLE) / n1 - 1e-9, 6) + 0 AS mae_naive1,
           ROUND(CAST(sae7 AS DOUBLE) * n1
                 / (CAST(n7 AS DOUBLE) * NULLIF(sae1, 0)) - 1e-9, 6) + 0
               AS mase
    FROM agg ORDER BY event_type
    """,
)
def q_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONAL-NAIVE forecast backtest with MASE (Hyndman-Koehler
    2006 — the scale-free accuracy score that makes forecast error
    comparable across series; the evaluation layer the smoothing
    family q_ewma/q_holt/q_holt_winters forecasts get judged by):
    per event type over the ZERO-FILLED dense daily grid, the
    week-ago forecast y[d-7] backtests against actuals, and MASE
    scales its MAE by the naive-1 (yesterday) MAE. Absolute errors of
    integer counts stay INTEGER (sae7/sae1 hash exactly); MASE
    reduces to sae7*n1/(n7*sae1) — integer products and ONE IEEE
    division, tie-rounded (NULL when the naive-1 error is zero, the
    constant-series guard). Scale: daily counts are one keyed shuffle
    with map-side partials; the dense grid is (types x day domain) —
    bounded by TIME, not corpus; the lag windows partition per type."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("y"))
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(
            F.sequence(F.lit(0), F.datediff("d1", "d0"))
        ).alias("di"),
    )
    d_idx = daily.crossJoin(F.broadcast(bounds)).select(
        "event_type", F.datediff("day", "d0").alias("di"), "y"
    )
    dense = grid.join(d_idx, ["event_type", "di"], "left").select(
        "event_type", "di", F.coalesce("y", F.lit(0)).alias("y")
    )
    w = Window.partitionBy("event_type").orderBy("di")
    lagged = dense.select(
        "event_type", "y",
        F.lag("y", 7).over(w).alias("y7"),
        F.lag("y", 1).over(w).alias("y1"),
    )
    agg = lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(
            F.when(F.col("y7").isNotNull(), F.abs(F.col("y") - F.col("y7")))
        ).cast("long").alias("sae7"),
        F.count("y7").alias("n7"),
        F.sum(
            F.when(F.col("y1").isNotNull(), F.abs(F.col("y") - F.col("y1")))
        ).cast("long").alias("sae1"),
        F.count("y1").alias("n1"),
    )
    # n7/n1 nullif-guarded like sae1 (ADVICE r14): a corpus spanning
    # <=7 days (n7=0) or a single day (n1=0) must emit NULL metrics
    # like the oracle, not raise an ANSI divide-by-zero
    return agg.select(
        "event_type", "n_days", "sae7", "sae1",
        fround(
            F.col("sae7").cast("double")
            / F.nullif(F.col("n7"), F.lit(0)), 6
        ).alias("mae_snaive"),
        fround(
            F.col("sae1").cast("double")
            / F.nullif(F.col("n1"), F.lit(0)), 6
        ).alias("mae_naive1"),
        fround(
            F.col("sae7").cast("double") * F.col("n1")
            / (F.nullif(F.col("n7"), F.lit(0)).cast("double")
               * F.nullif(F.col("sae1"), F.lit(0))),
            6,
        ).alias("mase"),
    ).orderBy("event_type")


@register(
    "q_dn_retention",
    oracle="""
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                FROM events),
    first_day AS (SELECT user_id, MIN(day) AS f0 FROM ud GROUP BY 1),
    marks AS (
        SELECT f.f0, u.user_id,
               MAX(CASE WHEN datediff('day', f.f0, u.day) = 1
                        THEN 1 ELSE 0 END) AS r1,
               MAX(CASE WHEN datediff('day', f.f0, u.day) = 7
                        THEN 1 ELSE 0 END) AS r7,
               MAX(CASE WHEN datediff('day', f.f0, u.day) = 28
                        THEN 1 ELSE 0 END) AS r28
        FROM first_day f JOIN ud u USING (user_id)
        GROUP BY 1, 2)
    SELECT CAST(f0 AS TIMESTAMP) AS cohort_day,
           CAST(COUNT(*) AS BIGINT) AS n_new,
           CAST(SUM(r1) AS BIGINT) AS n_d1,
           CAST(SUM(r7) AS BIGINT) AS n_d7,
           CAST(SUM(r28) AS BIGINT) AS n_d28,
           ROUND(CAST(SUM(r1) AS DOUBLE) / COUNT(*) - 1e-9, 6) + 0 AS rate_d1,
           ROUND(CAST(SUM(r7) AS DOUBLE) / COUNT(*) - 1e-9, 6) + 0 AS rate_d7,
           ROUND(CAST(SUM(r28) AS DOUBLE) / COUNT(*) - 1e-9, 6) + 0
               AS rate_d28
    FROM marks GROUP BY 1 ORDER BY 1
    """,
)
def q_dn_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic D1/D7/D28 RETENTION by signup cohort — the bounded-day
    growth metric beside the full q_cohort_retention matrix and the
    rolling q_dau_wau_mau (product teams read exactly these three
    numbers): a user counts as day-k retained iff they have ANY event
    exactly k days after their first-ever active day. Two keyed
    aggregations (distinct user-days, then per-user day-offset marks
    joined back on user_id) and one cohort rollup — counts integer,
    rates one IEEE division each, tie-rounded. Scale: everything keys
    on user_id or the bounded day domain; no window over the event
    stream at all."""
    ev = _t(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    first_day = ud.groupBy("user_id").agg(F.min("day").alias("f0"))
    k = F.datediff("day", "f0")
    marks = (
        first_day.join(ud, "user_id")
        .groupBy("f0", "user_id")
        .agg(
            F.max(F.when(k == 1, 1).otherwise(0)).alias("r1"),
            F.max(F.when(k == 7, 1).otherwise(0)).alias("r7"),
            F.max(F.when(k == 28, 1).otherwise(0)).alias("r28"),
        )
    )
    n = F.count(F.lit(1))
    return (
        marks.groupBy(F.col("f0").cast("timestamp").alias("cohort_day"))
        .agg(
            n.alias("n_new"),
            F.sum("r1").cast("long").alias("n_d1"),
            F.sum("r7").cast("long").alias("n_d7"),
            F.sum("r28").cast("long").alias("n_d28"),
            fround(F.sum("r1") / n, 6).alias("rate_d1"),
            fround(F.sum("r7") / n, 6).alias("rate_d7"),
            fround(F.sum("r28") / n, 6).alias("rate_d28"),
        )
        .orderBy("cohort_day")
    )


@register(
    "q_session_entry_exit",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                    OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS sess_no
      FROM ordered),
    ranked AS (
      SELECT user_id, sess_no, event_type,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, sess_no ORDER BY ts, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id, sess_no) AS depth
      FROM sess),
    pairs AS (
      SELECT user_id, sess_no,
             MAX(CASE WHEN rn = 1 THEN event_type END) AS entry_type,
             MAX(CASE WHEN rn = depth THEN event_type END) AS exit_type,
             CAST(MAX(depth) AS BIGINT) AS depth
      FROM ranked GROUP BY 1, 2)
    SELECT entry_type, exit_type,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN depth = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bounce,
           ROUND(CAST(SUM(CAST(depth AS BIGINT)) AS DOUBLE) / COUNT(*)
                 - 1e-9, 6) + 0 AS avg_depth
    FROM pairs GROUP BY 1, 2
    ORDER BY n_sessions DESC, entry_type, exit_type
    """,
)
def q_session_entry_exit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session ENTRY/EXIT matrix — the landing/abandonment analysis
    beside q_session_paths (which mines openings only) and
    q_session_metrics (which rolls up quality): sessions form by the
    house 30-min integer-microsecond gap rule, each session reduces
    to its (first, last) event-type pair with deterministic (ts,
    event_id) ordering, and the pair matrix carries session counts,
    single-event bounces, and mean depth. One user-partitioned window
    pass + one session-keyed aggregate (entry/exit picked from the
    session's own sorted struct list — no second window) + the
    type-pair rollup (<= 25 rows). avg_depth is one IEEE division,
    tie-rounded."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sess = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_sess",
            (
                F.col("prev_ts").isNull()
                | (
                    F.unix_micros("ts") - F.unix_micros("prev_ts")
                    > 1_800_000_000
                )
            ).cast("int"),
        )
        .withColumn(
            "sess_no",
            F.sum("new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    pairs = sess.groupBy("user_id", "sess_no").agg(
        F.sort_array(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ).alias("evs")
    ).select(
        F.element_at("evs", 1)["event_type"].alias("entry_type"),
        F.element_at("evs", -1)["event_type"].alias("exit_type"),
        F.size("evs").cast("long").alias("depth"),
    )
    return (
        pairs.groupBy("entry_type", "exit_type")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum(F.when(F.col("depth") == 1, 1).otherwise(0))
            .cast("long").alias("n_bounce"),
            fround(
                F.sum("depth").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_depth"),
        )
        .orderBy(F.col("n_sessions").desc(), "entry_type", "exit_type")
    )


@register(
    "q_skyline_pareto",
    oracle="""
    SELECT p.p_partkey AS partkey, p.p_name AS name,
           p.p_retailprice AS price, p.p_size AS size
    FROM part p
    WHERE NOT EXISTS (
        SELECT 1 FROM part q
        WHERE q.p_retailprice <= p.p_retailprice
          AND q.p_size >= p.p_size
          AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    ORDER BY price, partkey
    """,
)
def q_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-frontier) operator: the parts no other part
    dominates on (minimize retailprice, maximize size) — the classic
    multi-criteria shortlist the optimizer literature calls SKYLINE OF
    (Borzsony et al., ICDE 2001). The naive plan is the oracle's
    O(n^2) NOT-EXISTS self-join; the 2-D case collapses to a
    prefix-max scan, done here DISTRIBUTED: (1) per-price max size — a
    plain shuffle agg, same-price rows can only survive at the max;
    (2) repartitionByRange on price makes partitions price-contiguous,
    so a per-partition running max plus a ~P-row cross-partition
    prefix-max frame (broadcast back) decides global dominance without
    ever materializing a single-partition sort of the full frame. A
    pair survives iff its size strictly exceeds every size at a
    strictly cheaper price. Survivors broadcast-join back to part so
    same-(price,size) duplicates (mutually non-dominating) all emit.
    Scale: both shuffles key on price; the only driver-sized frame is
    one row per range partition."""
    part = _t(spark, sf_dir, "part")
    pairs = part.groupBy("p_retailprice").agg(
        F.max("p_size").alias("best_size")
    )
    ranged = pairs.repartitionByRange(32, "p_retailprice").withColumn(
        "pid", F.spark_partition_id()
    )
    w_local = (
        Window.partitionBy("pid")
        .orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = ranged.withColumn("prev_local", F.max("best_size").over(w_local))
    pid_stats = ranged.groupBy("pid").agg(F.max("best_size").alias("pid_max"))
    w_pid = (
        Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    )
    pid_prefix = pid_stats.withColumn(
        "prev_pid", F.max("pid_max").over(w_pid)
    ).select("pid", "prev_pid")
    survivors = (
        local.join(F.broadcast(pid_prefix), "pid")
        .withColumn(
            "prev_max",
            F.greatest(
                F.coalesce("prev_local", F.lit(-(2**31))),
                F.coalesce("prev_pid", F.lit(-(2**31))),
            ),
        )
        .filter(F.col("best_size") > F.col("prev_max"))
        .select("p_retailprice", F.col("best_size").alias("p_size"))
    )
    return (
        part.join(F.broadcast(survivors), ["p_retailprice", "p_size"])
        .select(
            F.col("p_partkey").alias("partkey"),
            F.col("p_name").alias("name"),
            F.col("p_retailprice").alias("price"),
            F.col("p_size").alias("size"),
        )
        .orderBy("price", "partkey")
    )


@register(
    "q_mode_per_group",
    oracle="""
    WITH counts AS (
        SELECT n.n_name AS nation, c.c_mktsegment AS segment,
               COUNT(*) AS cnt
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    ), totals AS (
        SELECT nation, CAST(SUM(cnt) AS BIGINT) AS total FROM counts GROUP BY 1
    )
    SELECT c.nation, c.segment AS modal_segment, c.cnt AS modal_count,
           t.total AS group_total,
           ROUND(CAST(c.cnt AS DOUBLE) / t.total - 1e-9, 6) + 0 AS modal_share
    FROM counts c JOIN totals t USING (nation)
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY c.nation ORDER BY c.cnt DESC, c.segment
    ) = 1
    ORDER BY c.nation
    """,
)
def q_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group MODE (most frequent value) with a deterministic
    tie-break — the categorical argmax SQL lacks as a builtin
    aggregate. Two distributed aggs: (nation, segment) counts with
    map-side partials, then a per-nation
    ROW_NUMBER pick ordered (count DESC, segment ASC) so equal counts
    resolve to the LEXICALLY SMALLEST segment identically in both
    engines — no window over the fact table, the argmax runs on the
    group-cardinality frame. Scale: both shuffles key on the group;
    the mode pick is a 125-row agg at any SF."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    counts = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"),
                 F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # per-nation argmax as a row_number over the group-cardinality
    # counts frame: higher count wins, ties go to the lexically
    # smaller segment (both engines order identically)
    w = Window.partitionBy("nation").orderBy(
        F.col("cnt").desc(), F.col("segment").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "total", F.sum("cnt").over(Window.partitionBy("nation"))
        )
        .filter(F.col("rn") == 1)
        .select(
            "nation",
            F.col("segment").alias("modal_segment"),
            F.col("cnt").alias("modal_count"),
            F.col("total").alias("group_total"),
            fround(F.col("cnt").cast("double") / F.col("total"), 6).alias(
                "modal_share"
            ),
        )
        .orderBy("nation")
    )


def _day_dense_counts(ev: DataFrame) -> DataFrame:
    """Day-dense zero-filled (event_type, day_idx, v) count series —
    the shared input of the sequential smoothers (q_holt_smoothing /
    q_holt_winters). One bounds broadcast, one keyed count agg, one
    grid left join; day_idx counts from the corpus MIN date."""
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    days = bounds.select(
        F.explode(
            F.sequence(F.lit(0), F.datediff("d1", "d0"))
        ).alias("day_idx")
    )
    cnts = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.col("d0")).alias("day_idx"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        ev.select("event_type").distinct()
        .crossJoin(F.broadcast(days))
        .join(cnts, ["event_type", "day_idx"], "left")
        .select(
            "event_type", "day_idx",
            F.coalesce("cnt", F.lit(0)).cast("double").alias("v"),
        )
    )


@register(
    "q_holt_smoothing",
    oracle="""
    WITH RECURSIVE bounds AS (
        SELECT MIN(CAST(ts AS DATE)) AS d0,
               MAX(CAST(ts AS DATE)) AS d1
        FROM events),
    days AS (
        SELECT unnest(generate_series(0,
            (SELECT datediff('day', d0, d1) FROM bounds))) AS day_idx),
    types AS (SELECT DISTINCT event_type FROM events),
    cnts AS (
        SELECT event_type, datediff('day', b.d0, CAST(ts AS DATE)) AS day_idx,
               COUNT(*) AS cnt
        FROM events, bounds b GROUP BY 1, 2),
    grid AS (
        SELECT t.event_type, d.day_idx,
               CAST(COALESCE(c.cnt, 0) AS DOUBLE) AS v
        FROM types t CROSS JOIN days d
        LEFT JOIN cnts c ON c.event_type = t.event_type
                        AND c.day_idx = d.day_idx),
    rec AS (
        SELECT event_type, day_idx AS t, v AS level, CAST(0 AS DOUBLE) AS trend
        FROM grid WHERE day_idx = 0
        UNION ALL
        SELECT g.event_type, r.t + 1,
               (g.v + (r.level + r.trend)) * 0.5,
               (((g.v + (r.level + r.trend)) * 0.5 - r.level) + r.trend) * 0.5
        FROM rec r JOIN grid g ON g.event_type = r.event_type
                              AND g.day_idx = r.t + 1)
    SELECT event_type, t AS day_idx,
           ROUND(level - 1e-9, 6) + 0 AS level,
           ROUND(trend - 1e-9, 6) + 0 AS trend,
           ROUND((level + trend) - 1e-9, 6) + 0 AS forecast_1
    FROM rec ORDER BY event_type, day_idx
    """,
)
def q_holt_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt LINEAR-TREND double exponential smoothing (alpha = beta =
    1/2) of the daily event-count series per type — EWMA's big sibling
    that tracks a drifting level AND its slope, the standard
    short-horizon forecaster for pipeline-volume monitoring. The
    recurrence l_t = (v_t + (l_{t-1} + b_{t-1})) * 0.5, b_t = ((l_t -
    l_{t-1}) + b_{t-1}) * 0.5 is inherently sequential per series, so
    this is the legitimate grouped-map path: one applyInPandas over
    day-dense zero-filled series (series count = parallelism; each
    series is day-domain-bounded, never corpus-sized). Both engines
    evaluate the IDENTICALLY-PARENTHESIZED IEEE double expression
    sequence (the oracle replays it as a recursive CTE), so level /
    trend / one-step forecast agree bit-exactly before the output
    rounding. forecast_1 = l + b is tomorrow's volume estimate."""
    import pandas as pd

    grid = _day_dense_counts(load_table(spark, sf_dir, "events"))

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day_idx")
        vs = [float(x) for x in pdf["v"]]
        levels, trends = [], []
        level = vs[0]
        trend = 0.0
        levels.append(level)
        trends.append(trend)
        for v in vs[1:]:
            new_level = (v + (level + trend)) * 0.5
            trend = ((new_level - level) + trend) * 0.5
            level = new_level
            levels.append(level)
            trends.append(trend)
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"].iloc[0],
                "day_idx": pdf["day_idx"].to_numpy(),
                "level": levels,
                "trend": trends,
            }
        )

    smoothed = grid.groupBy("event_type").applyInPandas(
        holt, "event_type string, day_idx int, level double, trend double"
    )
    return smoothed.select(
        "event_type", "day_idx",
        fround(F.col("level"), 6).alias("level"),
        fround(F.col("trend"), 6).alias("trend"),
        fround(F.col("level") + F.col("trend"), 6).alias("forecast_1"),
    ).orderBy("event_type", "day_idx")


_MKV_CHANNELS = ["click", "error", "signup", "view"]
_MKV_SRCS = ["START"] + _MKV_CHANNELS  # transient-state index order
_MKV_ITERS = 8


def _mkv_sql() -> str:
    srcs = ", ".join(
        f"({i + 1}, '{s}')" for i, s in enumerate(_MKV_SRCS)
    )
    dsts = ", ".join(
        f"({j + 1}, '{c}')" for j, c in enumerate(_MKV_CHANNELS)
    )
    rms = ", ".join(f"('{r}')" for r in ["none"] + _MKV_CHANNELS)
    chans = ", ".join(f"('{c}')" for c in _MKV_CHANNELS)
    n_s = len(_MKV_SRCS)
    n_d = len(_MKV_CHANNELS)
    return f"""
    WITH RECURSIVE ordered AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events),
    firstp AS (
        SELECT user_id, MIN(rn) AS prn FROM ordered
        WHERE event_type = 'purchase' GROUP BY 1),
    pfx AS (
        SELECT o.user_id, o.rn,
               CASE WHEN o.event_type = 'purchase' THEN 'CONV'
                    ELSE o.event_type END AS st
        FROM ordered o LEFT JOIN firstp f USING (user_id)
        WHERE f.prn IS NULL OR o.rn <= f.prn),
    hops AS (
        SELECT user_id, rn, st,
               LEAD(st) OVER (PARTITION BY user_id ORDER BY rn) AS nxt
        FROM pfx),
    trans_raw AS (
        SELECT 'START' AS src, st AS dst FROM hops WHERE rn = 1
        UNION ALL
        SELECT st, COALESCE(nxt, 'NULL') FROM hops WHERE st <> 'CONV'),
    cnts AS (SELECT src, dst, COUNT(*) AS cnt FROM trans_raw GROUP BY 1, 2),
    tots AS (SELECT src, SUM(cnt) AS tot FROM cnts GROUP BY 1),
    probs AS (
        SELECT c.src, c.dst, CAST(c.cnt AS DOUBLE) / t.tot AS p
        FROM cnts c JOIN tots t USING (src)),
    srcs(i, sname) AS (VALUES {srcs}),
    dsts(j, dname) AS (VALUES {dsts}),
    rms(rm) AS (VALUES {rms}),
    cells AS (
        SELECT r.rm, s.i AS si, d.j AS dj,
               CASE WHEN d.dname = r.rm THEN CAST(0 AS DOUBLE)
                    ELSE COALESCE(p.p, CAST(0 AS DOUBLE)) END AS v
        FROM rms r CROSS JOIN srcs s CROSS JOIN dsts d
        LEFT JOIN probs p ON p.src = s.sname AND p.dst = d.dname),
    trows AS (
        SELECT rm, si, list(v ORDER BY dj) AS trow
        FROM cells GROUP BY rm, si),
    convs AS (
        SELECT r.rm, s.i AS si,
               COALESCE(p.p, CAST(0 AS DOUBLE)) AS convp
        FROM rms r CROSS JOIN srcs s
        LEFT JOIN probs p ON p.src = s.sname AND p.dst = 'CONV'),
    tmat AS (
        SELECT t.rm, list(t.trow ORDER BY t.si) AS T,
               list(c.convp ORDER BY c.si) AS cp
        FROM trows t JOIN convs c ON c.rm = t.rm AND c.si = t.si
        GROUP BY t.rm),
    rec AS (
        SELECT rm,
               0 AS it,
               list_transform(generate_series(1, {n_s}),
                              i -> CAST(0 AS DOUBLE)) AS p
        FROM tmat
        UNION ALL
        SELECT r.rm, r.it + 1,
               list_transform(generate_series(1, {n_s}), i ->
                   m.cp[i] + list_reduce(
                       list_prepend(CAST(0 AS DOUBLE),
                           list_transform(generate_series(1, {n_d}),
                                          j -> m.T[i][j] * r.p[j + 1])),
                       (a, b) -> a + b))
        FROM rec r JOIN tmat m USING (rm) WHERE r.it < {_MKV_ITERS}),
    absorbed AS (
        SELECT rm, p[1] AS conv_p FROM rec WHERE it = {_MKV_ITERS}),
    base AS (SELECT conv_p AS base_p FROM absorbed WHERE rm = 'none'),
    chans(channel) AS (VALUES {chans}),
    eff AS (
        SELECT c.channel, b.base_p, a.conv_p AS removal_p,
               1 - a.conv_p / b.base_p AS re
        FROM chans c
        JOIN absorbed a ON a.rm = c.channel
        CROSS JOIN base b),
    tot_re AS (
        SELECT list_reduce(
                   list_prepend(CAST(0 AS DOUBLE),
                                list(re ORDER BY channel)),
                   (a, b) -> a + b) AS sum_re
        FROM eff)
    SELECT e.channel,
           ROUND(e.base_p - 1e-9, 6) + 0 AS base_conv,
           ROUND(e.removal_p - 1e-9, 6) + 0 AS removal_conv,
           ROUND(e.re - 1e-9, 6) + 0 AS removal_effect,
           ROUND(e.re / t.sum_re - 1e-9, 6) + 0 AS attribution_share
    FROM eff e CROSS JOIN tot_re t
    ORDER BY e.channel
    """


@register("q_markov_attribution", oracle=_mkv_sql())
def q_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKOV-CHAIN attribution (removal effect): user journeys
    (events ordered per user, cut at the first purchase) become a
    first-order chain over channel states with absorbing CONV/NULL;
    each channel's credit is its REMOVAL EFFECT — how much the
    absorption probability from START drops when every hop into the
    channel is redirected to NULL — normalized into attribution
    shares. The standard data-driven alternative to last-touch /
    linear heuristics (both already registered). Absorption
    probabilities come from 8 fixed matrix-vector iterations over
    the (removal x state) frame — 25 rows at ANY corpus size; the
    distributed work is journey derivation (user-partitioned windows)
    and the (src, dst) count shuffle. Cross-engine exactness without
    mid-iteration rounding: both engines fold the dense per-row term
    list in ascending state order (F.aggregate over a fixed-order
    array == DuckDB list_reduce), the PageRank posture."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    )
    firstp = (
        ordered.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("rn").alias("prn"))
    )
    pfx = (
        ordered.join(firstp, "user_id", "left")
        .filter(F.col("prn").isNull() | (F.col("rn") <= F.col("prn")))
        .select(
            "user_id", "rn",
            F.when(F.col("event_type") == "purchase", F.lit("CONV"))
            .otherwise(F.col("event_type")).alias("st"),
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("rn")
    hops = pfx.withColumn("nxt", F.lead("st").over(w2))
    trans = (
        hops.filter(F.col("rn") == 1)
        .select(F.lit("START").alias("src"), F.col("st").alias("dst"))
        .unionByName(
            hops.filter(F.col("st") != "CONV").select(
                F.col("st").alias("src"),
                F.coalesce("nxt", F.lit("NULL")).alias("dst"),
            )
        )
    )
    cnts = trans.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("cnt"))
    tots = cnts.groupBy("src").agg(F.sum("cnt").alias("tot"))
    probs = cnts.join(tots, "src").select(
        "src", "dst", (F.col("cnt").cast("double") / F.col("tot")).alias("p")
    ).transform(cut)
    # ^ the transition-probability frame (at most a few dozen rows) is
    # consumed by TWO broadcast builds (cells and convs); without the
    # checkpoint each build re-runs the whole journey pipeline
    # (measured 2.9s x2 at sf0.1)
    # literal state/removal frames: local_frame gives a LocalRelation,
    # a single in-JVM partition that broadcasts for free
    srcs = local_frame(
        spark, [(i + 1, s) for i, s in enumerate(_MKV_SRCS)], "i int, sname string"
    )
    dsts = local_frame(
        spark, [(j + 1, c) for j, c in enumerate(_MKV_CHANNELS)], "j int, dname string"
    )
    rms = local_frame(spark, [(r,) for r in ["none"] + _MKV_CHANNELS], "rm string")
    cells = (
        rms.crossJoin(srcs).crossJoin(dsts)
        .join(
            F.broadcast(probs),
            (F.col("src") == F.col("sname")) & (F.col("dst") == F.col("dname")),
            "left",
        )
        .select(
            "rm", F.col("i").alias("si"), F.col("j").alias("dj"),
            F.when(F.col("dname") == F.col("rm"), F.lit(0.0))
            .otherwise(F.coalesce("p", F.lit(0.0))).alias("v"),
        )
    )
    trows = cells.groupBy("rm", "si").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dj", "v"))), lambda x: x["v"]
        ).alias("trow")
    )
    convs = (
        rms.crossJoin(srcs)
        .join(
            F.broadcast(probs.filter(F.col("dst") == "CONV")),
            F.col("src") == F.col("sname"),
            "left",
        )
        .select(
            "rm", F.col("i").alias("si"),
            F.coalesce("p", F.lit(0.0)).alias("convp"),
        )
    )
    tmat = (
        trows.join(convs, ["rm", "si"])
        .groupBy("rm")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("si", "trow"))),
                lambda x: x["trow"],
            ).alias("T"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("si", "convp"))),
                lambda x: x["convp"],
            ).alias("cp"),
        )
    )
    n_s = len(_MKV_SRCS)
    n_d = len(_MKV_CHANNELS)
    pvec = tmat.select(
        "rm", "T", "cp",
        F.transform(
            F.sequence(F.lit(1), F.lit(n_s)), lambda i: F.lit(0.0)
        ).alias("p"),
    )
    for _ in range(_MKV_ITERS):
        pvec = pvec.select(
            "rm", "T", "cp",
            F.transform(
                F.sequence(F.lit(1), F.lit(n_s)),
                lambda i: F.element_at("cp", i)
                + F.aggregate(
                    F.transform(
                        F.sequence(F.lit(1), F.lit(n_d)),
                        lambda j: F.element_at(F.element_at("T", i), j)
                        * F.element_at("p", j + F.lit(1)),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
            ).alias("p"),
            # break the expression chain per iteration: 8 composed
            # nested-HOF trees otherwise explode catalyst/eval cost;
            # the frame is (removals x 1) = 5 rows at any SF
        ).transform(cut, eager=True)
    absorbed = pvec.select("rm", F.element_at("p", 1).alias("conv_p"))
    base = absorbed.filter(F.col("rm") == "none").select(
        F.col("conv_p").alias("base_p")
    )
    chans = local_frame(spark, [(c,) for c in _MKV_CHANNELS], "channel string")
    eff = (
        chans.join(absorbed, chans.channel == absorbed.rm)
        .crossJoin(F.broadcast(base))
        .select(
            "channel", "base_p", F.col("conv_p").alias("removal_p"),
            # degenerate (purchase-free) corpus: base_p = 0 would throw
            # DIVIDE_BY_ZERO under ANSI; emit NULL like the oracle
            (F.lit(1.0)
             - F.col("conv_p") / F.nullif(F.col("base_p"), F.lit(0.0))
             ).alias("re"),
        )
    )
    tot_re = eff.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("channel", "re"))),
            F.lit(0.0),
            lambda acc, x: acc + x["re"],
        ).alias("sum_re")
    )
    return (
        eff.crossJoin(F.broadcast(tot_re))
        .select(
            "channel",
            fround(F.col("base_p"), 6).alias("base_conv"),
            fround(F.col("removal_p"), 6).alias("removal_conv"),
            fround(F.col("re"), 6).alias("removal_effect"),
            fround(
                F.col("re") / F.nullif(F.col("sum_re"), F.lit(0.0)), 6
            ).alias("attribution_share"),
        )
        .orderBy("channel")
    )


@register(
    "q_itemsets3",
    oracle="""
    WITH basket AS (
        SELECT DISTINCT l_orderkey AS ok, p_brand AS bk
        FROM lineitem JOIN part ON p_partkey = l_partkey),
    triples AS (
        SELECT a.bk AS p1, b.bk AS p2, c.bk AS p3, COUNT(*) AS support
        FROM basket a
        JOIN basket b ON b.ok = a.ok AND b.bk > a.bk
        JOIN basket c ON c.ok = a.ok AND c.bk > b.bk
        GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2),
    ms AS (SELECT GREATEST(CAST(2 AS BIGINT),
                           CAST(CEIL(AVG(support)) AS BIGINT)) AS m
           FROM triples)
    SELECT p1, p2, p3, support FROM triples, ms
    WHERE support >= m
    ORDER BY support DESC, p1, p2, p3
    """,
)
def q_itemsets3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-ITEMSETS with the Apriori candidate prune (Agrawal &
    Srikant 1994) — the level the pair-mining queries
    (q_copurchase_pairs / q_recommend_also_bought) stop at. Items are
    part BRANDS (the SF-invariant product vocabulary): r13's part-key
    items starved support >= 2 at sf1 because basket size is constant
    while the part space scales with SF (VERDICT r13 item 5) — brand
    baskets instead DENSIFY with scale, so the mining threshold is
    derived from the corpus: Apriori runs at minsup 2 (downward
    closure holds for any final threshold >= 2), then only
    ABOVE-AVERAGE-support triples are kept (m = max(2,
    ceil(avg support)) over the support>=2 frame, a 1-row broadcast)
    — provably non-empty whenever any triple repeats (max >= avg) and
    selective at EVERY scale (sf0.001 m=3, sf0.01 m~26, sf1 m~2600).
    The oracle counts all repeated triples directly; the Spark plan is
    the Apriori algorithm: frequent PAIRS (support >= 2) generate
    candidate triples by joining pairs sharing their first item
    ((a,b) + (a,c), b < c), the downward-closure prune keeps only
    candidates whose third face (b,c) is also frequent, and only
    surviving candidates count support against baskets. Scale: triple
    enumeration never touches infrequent combinations, the classic
    candidate bound; every join keys on brand or order keys, and the
    brand-triple space is capped at C(25,3) = 2300 rows regardless of
    corpus size."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    basket = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("bk"))
        .distinct()
    )
    b2 = basket.select(F.col("ok"), F.col("bk").alias("bk2"))
    pairs = (
        basket.join(b2, "ok")
        .filter(F.col("bk2") > F.col("bk"))
        .groupBy("bk", "bk2")
        .agg(F.count(F.lit(1)).alias("sup2"))
        .filter(F.col("sup2") >= 2)
        .select(F.col("bk").alias("a"), F.col("bk2").alias("b"))
    )
    # candidate generation: join frequent pairs on the shared first
    # item — (a,b) x (a,c) with b < c — then downward-closure prune on
    # the (b,c) face
    p1 = pairs
    p2 = pairs.select(F.col("a"), F.col("b").alias("c"))
    cand = (
        p1.join(p2, "a")
        .filter(F.col("c") > F.col("b"))
        .join(
            pairs.select(F.col("a").alias("b"), F.col("b").alias("c")),
            ["b", "c"],
            "left_semi",
        )
    )
    # support counting stays ORDER-keyed: enumerate per-basket pairs
    # then triples via ok-joins (per-order fan-out is C(basket,3), a
    # constant), pruning each level with a BROADCAST semi join against
    # the frequent-pair / candidate frames (<= C(25,3) rows). Joining
    # candidates to baskets on the 25-value brand columns instead fans
    # out corpus_rows/25 per candidate row — the r14 sf1 smoke measured
    # that shape at 109 s vs ~10 s for this one.
    ba = basket.select("ok", F.col("bk").alias("a"))
    bb = basket.select("ok", F.col("bk").alias("b"))
    bc = basket.select("ok", F.col("bk").alias("c"))
    ab = (
        ba.join(bb, "ok")
        .filter(F.col("b") > F.col("a"))
        .join(F.broadcast(pairs), ["a", "b"], "left_semi")
    )
    freq = (
        ab.join(bc, "ok")
        .filter(F.col("c") > F.col("b"))
        .join(F.broadcast(cand.select("a", "b", "c")), ["a", "b", "c"],
              "left_semi")
        .groupBy(
            F.col("a").alias("p1"), F.col("b").alias("p2"),
            F.col("c").alias("p3"),
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
    )
    # corpus-derived final threshold: above-average support among the
    # repeated triples, never below the Apriori minsup
    ms = freq.agg(
        F.greatest(
            F.lit(2).cast("long"),
            F.ceil(F.avg("support")).cast("long"),
        ).alias("m")
    )
    return (
        freq.crossJoin(F.broadcast(ms))
        .filter(F.col("support") >= F.col("m"))
        .select("p1", "p2", "p3", "support")
        .orderBy(F.col("support").desc(), "p1", "p2", "p3")
    )


@register(
    "q_survival_km",
    oracle="""
    WITH u AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS t0,
               MIN(CASE WHEN event_type = 'purchase'
                        THEN CAST(ts AS DATE) END) AS tp
        FROM events GROUP BY 1),
    horizon AS (SELECT MAX(CAST(ts AS DATE)) AS hmax FROM events),
    spans AS (
        SELECT user_id,
               CASE WHEN tp IS NOT NULL THEN datediff('day', t0, tp)
                    ELSE datediff('day', t0, hmax) END AS dur,
               (tp IS NOT NULL) AS observed
        FROM u, horizon),
    daily AS (
        SELECT dur AS day,
               CAST(COUNT(CASE WHEN observed THEN 1 END) AS DOUBLE) AS d,
               CAST(COUNT(CASE WHEN NOT observed THEN 1 END) AS DOUBLE) AS c
        FROM spans GROUP BY 1),
    packed AS (
        SELECT list(struct_pack(day := day, d := d, c := c)
                    ORDER BY day) AS arr,
               CAST((SELECT COUNT(*) FROM spans) AS DOUBLE) AS tot
        FROM daily)
    SELECT p.arr[gs.i].day AS day,
           CAST(list_reduce(
               list_prepend([p.tot, CAST(1 AS DOUBLE)],
                   list_transform(p.arr[1:gs.i - 1], e -> [e.d, e.c])),
               (a, x) -> [a[1] - x[1] - x[2],
                          a[2] * (1 - x[1] / a[1])])[1] AS BIGINT)
               AS n_risk,
           CAST(p.arr[gs.i].d AS BIGINT) AS d_events,
           ROUND(list_reduce(
               list_prepend([p.tot, CAST(1 AS DOUBLE)],
                   list_transform(p.arr[1:gs.i], e -> [e.d, e.c])),
               (a, x) -> [a[1] - x[1] - x[2],
                          a[2] * (1 - x[1] / a[1])])[2] - 1e-9, 6) + 0
               AS survival
    FROM packed p
    CROSS JOIN (SELECT unnest(generate_series(1,
        (SELECT len(arr) FROM packed))) AS i) gs
    ORDER BY day
    """,
)
def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN-MEIER survival estimator of time-to-first-purchase with
    right censoring — the churn/conversion-latency curve survival
    analysis runs (each user enters at their first event; users with
    no purchase censor at the corpus horizon). At each observed day:
    n_at_risk, event count, and S(t) = prod(1 - d_i/n_i). The
    distributed work is the per-user span derivation and the per-day
    (d, c) counts; the estimator itself folds the DAY-SORTED term list
    with a [n_remaining, product] accumulator — both engines execute
    the identical IEEE multiply/divide sequence (the PageRank
    fixed-order-fold posture), so no mid-fold rounding is needed. The
    day-domain-bounded packed frame is the only single-row funnel
    (documented, the q_max_concurrency posture)."""
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("t0"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.to_date("ts"))
        ).alias("tp"),
    )
    horizon = ev.agg(F.max(F.to_date("ts")).alias("hmax"))
    spans = u.crossJoin(F.broadcast(horizon)).select(
        "user_id",
        F.when(
            F.col("tp").isNotNull(), F.datediff("tp", "t0")
        ).otherwise(F.datediff("hmax", "t0")).alias("dur"),
        F.col("tp").isNotNull().alias("observed"),
    )
    daily = spans.groupBy(F.col("dur").alias("day")).agg(
        F.count(F.when(F.col("observed"), 1)).cast("double").alias("d"),
        F.count(F.when(~F.col("observed"), 1)).cast("double").alias("c"),
    )
    packed = daily.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("day", "d", "c"))).alias("arr"),
        F.sum(F.col("d") + F.col("c")).alias("tot"),
    )
    # empty corpus: sequence(1, 0) DESCENDS in Spark (DuckDB's
    # generate_series is empty) and element_at on [] throws under ANSI
    # — emit the same zero rows instead (code-review r14)
    idx = packed.filter(F.size("arr") >= 1).select(
        "arr", "tot",
        F.explode(F.sequence(F.lit(1), F.size("arr"))).alias("i"),
    )

    def _fold(arr_slice, tot):
        return F.aggregate(
            F.transform(arr_slice, lambda e: F.array(e["d"], e["c"])),
            F.array(tot, F.lit(1.0)),
            lambda a, x: F.array(
                a[0] - x[0] - x[1], a[1] * (F.lit(1.0) - x[0] / a[0])
            ),
        )

    return idx.select(
        F.element_at("arr", F.col("i"))["day"].alias("day"),
        _fold(F.slice("arr", F.lit(1), F.col("i") - 1), F.col("tot"))[0]
        .cast("long").alias("n_risk"),
        F.element_at("arr", F.col("i"))["d"].cast("long").alias("d_events"),
        fround(
            _fold(F.slice("arr", F.lit(1), F.col("i")), F.col("tot"))[1], 6
        ).alias("survival"),
    ).orderBy("day")


@register(
    "q_nelson_aalen",
    oracle="""
    WITH u AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS t0,
               MIN(CASE WHEN event_type = 'purchase'
                        THEN CAST(ts AS DATE) END) AS tp
        FROM events GROUP BY 1),
    horizon AS (SELECT MAX(CAST(ts AS DATE)) AS hmax FROM events),
    spans AS (
        SELECT user_id,
               CASE WHEN tp IS NOT NULL THEN datediff('day', t0, tp)
                    ELSE datediff('day', t0, hmax) END AS dur,
               (tp IS NOT NULL) AS observed
        FROM u, horizon),
    daily AS (
        SELECT dur AS day,
               CAST(COUNT(CASE WHEN observed THEN 1 END) AS DOUBLE) AS d,
               CAST(COUNT(CASE WHEN NOT observed THEN 1 END) AS DOUBLE) AS c
        FROM spans GROUP BY 1),
    packed AS (
        SELECT list(struct_pack(day := day, d := d, c := c)
                    ORDER BY day) AS arr,
               CAST((SELECT COUNT(*) FROM spans) AS DOUBLE) AS tot
        FROM daily)
    SELECT p.arr[gs.i].day AS day,
           CAST(list_reduce(
               list_prepend([p.tot, CAST(0 AS DOUBLE)],
                   list_transform(p.arr[1:gs.i - 1], e -> [e.d, e.c])),
               (a, x) -> [a[1] - x[1] - x[2],
                          a[2] + x[1] / a[1]])[1] AS BIGINT)
               AS n_risk,
           CAST(p.arr[gs.i].d AS BIGINT) AS d_events,
           ROUND(list_reduce(
               list_prepend([p.tot, CAST(0 AS DOUBLE)],
                   list_transform(p.arr[1:gs.i], e -> [e.d, e.c])),
               (a, x) -> [a[1] - x[1] - x[2],
                          a[2] + x[1] / a[1]])[2] - 1e-9, 6) + 0
               AS cum_hazard
    FROM packed p
    CROSS JOIN (SELECT unnest(generate_series(1,
        (SELECT len(arr) FROM packed))) AS i) gs
    ORDER BY day
    """,
)
def q_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NELSON-AALEN cumulative-hazard estimator H(t) = sum(d_i / n_i)
    over time-to-first-purchase with right censoring — the additive
    sibling of q_survival_km's multiplicative S(t) (H is the
    variance-friendly scale survival texts difference-test on; -ln S
    approaches H but they are distinct estimators). Same distributed
    skeleton: per-user span derivation, per-day (d, c) counts, then
    the DAY-SORTED term list folds with a [n_remaining, H]
    accumulator — the identical IEEE divide/add sequence in both
    engines (fixed-order fold, the q_survival_km posture), no mid-fold
    rounding. The day-domain-bounded packed frame is the only
    single-row funnel (documented)."""
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("t0"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.to_date("ts"))
        ).alias("tp"),
    )
    horizon = ev.agg(F.max(F.to_date("ts")).alias("hmax"))
    spans = u.crossJoin(F.broadcast(horizon)).select(
        "user_id",
        F.when(
            F.col("tp").isNotNull(), F.datediff("tp", "t0")
        ).otherwise(F.datediff("hmax", "t0")).alias("dur"),
        F.col("tp").isNotNull().alias("observed"),
    )
    daily = spans.groupBy(F.col("dur").alias("day")).agg(
        F.count(F.when(F.col("observed"), 1)).cast("double").alias("d"),
        F.count(F.when(~F.col("observed"), 1)).cast("double").alias("c"),
    )
    packed = daily.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("day", "d", "c"))).alias("arr"),
        F.sum(F.col("d") + F.col("c")).alias("tot"),
    )
    # empty corpus: sequence(1, 0) DESCENDS in Spark (DuckDB's
    # generate_series is empty) and element_at on [] throws under ANSI
    # — emit the same zero rows instead (code-review r14)
    idx = packed.filter(F.size("arr") >= 1).select(
        "arr", "tot",
        F.explode(F.sequence(F.lit(1), F.size("arr"))).alias("i"),
    )

    def _fold(arr_slice, tot):
        return F.aggregate(
            F.transform(arr_slice, lambda e: F.array(e["d"], e["c"])),
            F.array(tot, F.lit(0.0)),
            lambda a, x: F.array(
                a[0] - x[0] - x[1], a[1] + x[0] / a[0]
            ),
        )

    return idx.select(
        F.element_at("arr", F.col("i"))["day"].alias("day"),
        _fold(F.slice("arr", F.lit(1), F.col("i") - 1), F.col("tot"))[0]
        .cast("long").alias("n_risk"),
        F.element_at("arr", F.col("i"))["d"].cast("long").alias("d_events"),
        fround(
            _fold(F.slice("arr", F.lit(1), F.col("i")), F.col("tot"))[1], 6
        ).alias("cum_hazard"),
    ).orderBy("day")


@register(
    "q_mann_whitney",
    oracle="""
    WITH s AS (
        SELECT CASE WHEN CAST(concat('0x',
                        substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS v
        FROM events WHERE event_type = 'purchase'),
    cells AS (
        SELECT v,
               CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
                   AS ca,
               CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
                   AS cb
        FROM s GROUP BY v),
    pre AS (
        SELECT v, ca, cb,
               COALESCE(SUM(cb) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cum_b
        FROM cells),
    agg AS (
        SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
               CAST(SUM(cb) AS BIGINT) AS n_b,
               CAST(SUM(ca * (2 * cum_b + cb)) AS BIGINT) AS u2,
               CAST(SUM((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb))
                    AS BIGINT) AS tsum
        FROM pre)
    SELECT n_a, n_b,
           CAST(u2 AS DOUBLE) / 2 AS u_a,
           CAST(n_a AS DOUBLE) * n_b / 2 AS mean_u,
           ROUND((CAST(u2 AS DOUBLE) / 2 - CAST(n_a AS DOUBLE) * n_b / 2)
                 / NULLIF(sqrt(CAST(n_a AS DOUBLE) * n_b / 12
                        * ((n_a + n_b + 1)
                           - CAST(tsum AS DOUBLE)
                             / NULLIF((n_a + n_b) * (n_a + n_b - 1.0), 0))), 0)
                 - 1e-9, 6) + 0 AS z
    FROM agg
    """,
)
def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-WHITNEY U rank-sum test of the A/B purchase-value split —
    the nonparametric location test beside q_ab_test's Welch t and
    q_permutation_test's resampling p (U is distribution-free and
    outlier-robust where the t is not). Same deterministic md5-parity
    arms. No corpus-sized global sort: values quantize to exact CENTS
    and aggregate per distinct cent cell first (one keyed shuffle),
    so U_A = sum over cells of ca * (cb_below + cb_equal/2) comes from
    a prefix-sum window over the VALUE-DOMAIN-bounded cell frame
    (2dp x bounded price range — independent of corpus size;
    documented funnel, the q_quantile_normalize posture). 2*U stays
    INTEGER (exact cross-engine); the normal approximation applies
    the standard tie correction sum(t^3 - t) — also integer — and one
    IEEE sqrt/divide for z, tie-rounded at 6dp."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    arm_a = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
               16, 10).cast("long") % 2 == 0
    )
    s = ev.select(
        arm_a.alias("is_a"),
        F.round(F.col("value") * 100, 0).cast("long").alias("v"),
    )
    cells = s.groupBy("v").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).cast("long").alias("ca"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0)).cast("long").alias("cb"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    pre = cells.withColumn(
        "cum_b", F.coalesce(F.sum("cb").over(w), F.lit(0))
    )
    t = F.col("ca") + F.col("cb")
    agg = pre.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        F.sum(F.col("ca") * (2 * F.col("cum_b") + F.col("cb")))
        .cast("long").alias("u2"),
        F.sum(t * t * t - t).cast("long").alias("tsum"),
    )
    n_a, n_b = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    u_a = F.col("u2").cast("double") / 2
    mean_u = n_a * n_b / 2
    nn = n_a + n_b
    # nn = 1 (single purchase) zeroes the tie-correction denominator
    # BEFORE the outer sqrt guard evaluates — nullif it too
    var_u = n_a * n_b / 12 * (
        (nn + 1)
        - F.col("tsum").cast("double") / F.nullif(nn * (nn - 1), F.lit(0.0))
    )
    return agg.select(
        "n_a", "n_b",
        u_a.alias("u_a"),
        mean_u.alias("mean_u"),
        # all-one-cell / one-arm degenerates: var_u = 0 -> NULL z like
        # the oracle, never an ANSI divide error
        fround(
            (u_a - mean_u) / F.nullif(F.sqrt(var_u), F.lit(0.0)), 6
        ).alias("z"),
    )


@register(
    "q_diff_in_diff",
    oracle="""
    WITH bounds AS (
        SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
    m AS (
        SELECT (length(md5(CAST(user_id AS VARCHAR))) -
                length(replace(md5(CAST(user_id AS VARCHAR)), 'a', '')))
               % 2 = 0 AS treated,
               datediff('day', b.d0, CAST(ts AS DATE)) >= 15 AS post,
               CAST(value AS DECIMAL(20,4)) AS v
        FROM events, bounds b WHERE event_type = 'purchase'),
    g AS (
        SELECT treated, post,
               CAST(SUM(v) AS DOUBLE) AS s, COUNT(*) AS n
        FROM m GROUP BY 1, 2),
    w AS (
        SELECT
          MAX(CASE WHEN treated AND post THEN s / n END) AS m_tp,
          MAX(CASE WHEN treated AND NOT post THEN s / n END) AS m_tr,
          MAX(CASE WHEN NOT treated AND post THEN s / n END) AS m_cp,
          MAX(CASE WHEN NOT treated AND NOT post THEN s / n END) AS m_cr,
          CAST(SUM(n) AS BIGINT) AS n_purchases
        FROM g)
    SELECT ROUND(m_tr - 1e-9, 4) + 0 AS treat_pre,
           ROUND(m_tp - 1e-9, 4) + 0 AS treat_post,
           ROUND(m_cr - 1e-9, 4) + 0 AS ctrl_pre,
           ROUND(m_cp - 1e-9, 4) + 0 AS ctrl_post,
           ROUND((m_tp - m_tr) - (m_cp - m_cr) - 1e-9, 4) + 0 AS did,
           n_purchases
    FROM w
    """,
)
def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES estimator: purchase value means in a
    2x2 (treated x pre/post) design — treatment arm from the md5
    'a'-count parity of user_id (the q_ab_test deterministic split),
    the post period from day 15 of the corpus window. DID =
    (post_T - pre_T) - (post_C - pre_C), the causal-impact readout
    when treatment wasn't randomly assigned in time. Means derive
    from exact DECIMAL sums over doubles counts (order-independent);
    the 2x2 pivot is a 4-row frame. Scale: one filtered scan + one
    keyed agg."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(F.min(F.to_date("ts")).alias("d0"))
    m = (
        ev.filter(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(bounds))
        .select(
            (
                (
                    F.length(F.md5(F.col("user_id").cast("string")))
                    - F.length(
                        F.replace(
                            F.md5(F.col("user_id").cast("string")),
                            F.lit("a"), F.lit(""),
                        )
                    )
                ) % 2 == 0
            ).alias("treated"),
            (F.datediff(F.to_date("ts"), F.col("d0")) >= 15).alias("post"),
            F.col("value").cast("decimal(20,4)").alias("v"),
        )
    )
    g = m.groupBy("treated", "post").agg(
        F.sum("v").cast("double").alias("s"), F.count(F.lit(1)).alias("n")
    )
    cell = F.col("s") / F.col("n")
    w = g.agg(
        F.max(F.when(F.col("treated") & F.col("post"), cell)).alias("m_tp"),
        F.max(F.when(F.col("treated") & ~F.col("post"), cell)).alias("m_tr"),
        F.max(F.when(~F.col("treated") & F.col("post"), cell)).alias("m_cp"),
        F.max(F.when(~F.col("treated") & ~F.col("post"), cell)).alias("m_cr"),
        F.sum("n").alias("n_purchases"),
    )
    return w.select(
        fround(F.col("m_tr"), 4).alias("treat_pre"),
        fround(F.col("m_tp"), 4).alias("treat_post"),
        fround(F.col("m_cr"), 4).alias("ctrl_pre"),
        fround(F.col("m_cp"), 4).alias("ctrl_post"),
        fround(
            (F.col("m_tp") - F.col("m_tr")) - (F.col("m_cp") - F.col("m_cr")),
            4,
        ).alias("did"),
        F.col("n_purchases"),
    )


@register(
    "q_acf_daily",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS x
        FROM events GROUP BY 1),
    packed AS (
        SELECT list(x ORDER BY day) AS xs,
               CAST(SUM(CAST(x AS DECIMAL(20,4))) AS DOUBLE) / COUNT(*) AS m,
               COUNT(*) AS n
        FROM daily)
    SELECT gs.k AS lag,
           ROUND(
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(generate_series(1,
                     CAST(p.n AS INTEGER) - gs.k),
                   t -> (p.xs[t] - p.m) * (p.xs[t + gs.k] - p.m))),
                 (a, b) -> a + b)
             / list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(generate_series(1, CAST(p.n AS INTEGER)),
                   t -> (p.xs[t] - p.m) * (p.xs[t] - p.m))),
                 (a, b) -> a + b)
             - 1e-9, 6) + 0 AS acf
    FROM packed p
    CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS k) gs
    ORDER BY lag
    """,
)
def q_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUTOCORRELATION function (lags 1-7) of the daily event-count
    series — the seasonality detector behind the STL decomposition
    already registered (a weekly cycle shows as an r_7 peak). r_k =
    c_k / c_0 with the standard biased autocovariance; the mean comes
    from the exact DECIMAL sum, and both covariance sums fold the
    DAY-SORTED series in identical IEEE order (fixed-order-fold
    posture), so no intermediate rounding. The day-domain-bounded
    packed row is the only funnel (documented); the distributed work
    is the daily count shuffle."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    packed = daily.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "x"))),
            lambda e: e["x"],
        ).alias("xs"),
        (
            F.sum(F.col("x").cast("decimal(20,4)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m"),
        F.count(F.lit(1)).alias("n"),
    )

    def _cov(xs, m, upto, k):
        # guard upto < 1: F.sequence(1, 0) would DESCEND (step -1) and
        # element_at(xs, 0) throws, where the oracle's generate_series
        # is simply empty — emit the same empty term list instead
        # (code-review r13)
        terms = F.when(
            upto >= F.lit(1),
            F.transform(
                F.sequence(F.lit(1), upto),
                lambda t: (F.element_at(xs, t) - m)
                * (F.element_at(xs, t + k) - m),
            ),
        ).otherwise(F.expr("CAST(array() AS array<double>)"))
        return F.aggregate(terms, F.lit(0.0), lambda a, b: a + b)

    lags = packed.select(
        "xs", "m", "n", F.explode(F.sequence(F.lit(1), F.lit(7))).alias("lag")
    )
    return lags.select(
        "lag",
        fround(
            _cov(F.col("xs"), F.col("m"),
                 F.col("n").cast("int") - F.col("lag"), F.col("lag"))
            / F.nullif(
                _cov(F.col("xs"), F.col("m"),
                     F.col("n").cast("int"), F.lit(0)),
                F.lit(0.0),
            ),
            6,
        ).alias("acf"),
    ).orderBy("lag")


@register(
    "q_holt_winters",
    oracle="""
    WITH RECURSIVE bounds AS (
        SELECT MIN(CAST(ts AS DATE)) AS d0,
               MAX(CAST(ts AS DATE)) AS d1
        FROM events),
    days AS (
        SELECT unnest(generate_series(0,
            (SELECT datediff('day', d0, d1) FROM bounds))) AS day_idx),
    types AS (SELECT DISTINCT event_type FROM events),
    cnts AS (
        SELECT event_type, datediff('day', b.d0, CAST(ts AS DATE)) AS day_idx,
               COUNT(*) AS cnt
        FROM events, bounds b GROUP BY 1, 2),
    grid AS (
        SELECT t.event_type, d.day_idx,
               CAST(COALESCE(c.cnt, 0) AS DOUBLE) AS v
        FROM types t CROSS JOIN days d
        LEFT JOIN cnts c ON c.event_type = t.event_type
                        AND c.day_idx = d.day_idx),
    packed AS (
        SELECT event_type, list(v ORDER BY day_idx) AS vs
        FROM grid GROUP BY event_type),
    init AS (
        SELECT event_type, vs,
               list_reduce(list_prepend(CAST(0 AS DOUBLE), vs[1:7]),
                           (a, b) -> a + b) / 7.0 AS l0,
               (list_reduce(list_prepend(CAST(0 AS DOUBLE), vs[8:14]),
                            (a, b) -> a + b) / 7.0
                - list_reduce(list_prepend(CAST(0 AS DOUBLE), vs[1:7]),
                              (a, b) -> a + b) / 7.0) / 7.0 AS b0
        FROM packed),
    rec AS (
        SELECT event_type, vs, 7 AS t, l0 AS level, b0 AS trend,
               CAST(NULL AS DOUBLE) AS seasonal,
               list_transform(generate_series(1, 7),
                              i -> vs[i] - l0) AS sbuf
        FROM init
        UNION ALL
        SELECT r.event_type, r.vs, r.t + 1,
               ((r.vs[r.t + 1] - r.sbuf[1]) + (r.level + r.trend)) * 0.5,
               ((((r.vs[r.t + 1] - r.sbuf[1]) + (r.level + r.trend)) * 0.5
                 - r.level) + r.trend) * 0.5,
               ((r.vs[r.t + 1]
                 - ((r.vs[r.t + 1] - r.sbuf[1]) + (r.level + r.trend)) * 0.5)
                + r.sbuf[1]) * 0.5,
               list_append(r.sbuf[2:7],
                   ((r.vs[r.t + 1]
                     - ((r.vs[r.t + 1] - r.sbuf[1])
                        + (r.level + r.trend)) * 0.5)
                    + r.sbuf[1]) * 0.5)
        FROM rec r WHERE r.t < len(r.vs))
    SELECT event_type, t - 1 AS day_idx,
           ROUND(level - 1e-9, 6) + 0 AS level,
           ROUND(trend - 1e-9, 6) + 0 AS trend,
           ROUND(seasonal - 1e-9, 6) + 0 AS seasonal
    FROM rec WHERE seasonal IS NOT NULL
    ORDER BY event_type, day_idx
    """,
)
def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT-WINTERS additive SEASONAL smoothing (alpha = beta = gamma
    = 1/2, weekly period 7) of the daily event-count series per type —
    the level + slope + day-of-week decomposition that completes the
    EWMA -> Holt -> Holt-Winters ladder; the forecaster of record for
    weekly-cyclic pipeline volume. Classic init: level = week-1 mean,
    trend = (week-2 mean - week-1 mean)/7, seasonals = week-1
    residuals; the recursion then updates (l, b, s) with the seasonal
    BUFFER of the trailing 7 values carried through the fold. Same
    posture as q_holt_smoothing: one applyInPandas over day-dense
    zero-filled series, identically-parenthesized IEEE doubles both
    engines (oracle = recursive CTE carrying the 7-slot list state),
    bit-exact before output rounding. Emits days 7+ (post-warmup)."""
    import pandas as pd

    grid = _day_dense_counts(load_table(spark, sf_dir, "events"))

    def hw(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day_idx")
        vs = [float(x) for x in pdf["v"]]
        out_day, out_l, out_b, out_s = [], [], [], []
        if len(vs) < 7:
            # series shorter than the seasonal warmup: no emittable
            # days — the oracle's recursion guard yields the same
            # empty result (code-review r13: vs[i] would IndexError)
            return pd.DataFrame(
                {
                    "event_type": pdf["event_type"].iloc[0],
                    "day_idx": out_day,
                    "level": out_l,
                    "trend": out_b,
                    "seasonal": out_s,
                }
            )
        acc = 0.0
        for x in vs[0:7]:
            acc = acc + x
        l0 = acc / 7.0
        acc2 = 0.0
        for x in vs[7:14]:
            acc2 = acc2 + x
        b0 = (acc2 / 7.0 - l0) / 7.0
        sbuf = [vs[i] - l0 for i in range(7)]
        level, trend = l0, b0
        for t in range(7, len(vs)):
            v = vs[t]
            s_used = sbuf[0]
            new_level = ((v - s_used) + (level + trend)) * 0.5
            new_trend = ((new_level - level) + trend) * 0.5
            new_s = ((v - new_level) + s_used) * 0.5
            sbuf = sbuf[1:] + [new_s]
            level, trend = new_level, new_trend
            out_day.append(t)
            out_l.append(level)
            out_b.append(trend)
            out_s.append(new_s)
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"].iloc[0],
                "day_idx": out_day,
                "level": out_l,
                "trend": out_b,
                "seasonal": out_s,
            }
        )

    smoothed = grid.groupBy("event_type").applyInPandas(
        hw,
        "event_type string, day_idx int, level double, trend double,"
        " seasonal double",
    )
    return smoothed.select(
        "event_type", "day_idx",
        fround(F.col("level"), 6).alias("level"),
        fround(F.col("trend"), 6).alias("trend"),
        fround(F.col("seasonal"), 6).alias("seasonal"),
    ).orderBy("event_type", "day_idx")


@register(
    "q_skew_kurtosis",
    oracle="""
    WITH sums AS (
        SELECT o_orderpriority AS pri,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS s1,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))
                   * CAST(o_totalprice AS DECIMAL(18,2))) AS s2,
               SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                        * CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(24,4))
                   * CAST(o_totalprice AS DECIMAL(12,2))) AS s3,
               SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                        * CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(18,4))
                   * CAST(CAST(o_totalprice AS DECIMAL(18,2))
                          * CAST(o_totalprice AS DECIMAL(18,2))
                          AS DECIMAL(19,4))) AS s4
        FROM orders GROUP BY 1),
    mom AS (
        SELECT pri, n,
               CAST(s1 AS DOUBLE) AS d1, CAST(s2 AS DOUBLE) AS d2,
               CAST(s3 AS DOUBLE) AS d3, CAST(s4 AS DOUBLE) AS d4
        FROM sums),
    cent AS (
        SELECT pri, n,
               d1 / n AS m,
               d2 / n - (d1 / n) * (d1 / n) AS m2,
               d3 / n - 3 * (d1 / n) * (d2 / n)
                 + 2 * (d1 / n) * (d1 / n) * (d1 / n) AS m3,
               d4 / n - 4 * (d1 / n) * (d3 / n)
                 + 6 * (d1 / n) * (d1 / n) * (d2 / n)
                 - 3 * (d1 / n) * (d1 / n) * (d1 / n) * (d1 / n) AS m4
        FROM mom)
    SELECT pri, n,
           ROUND(m - 1e-9, 4) + 0 AS mean,
           ROUND(sqrt(GREATEST(m2, 0)) - 1e-9, 4) + 0 AS stddev_pop,
           CASE WHEN m2 > 0 THEN
               ROUND(m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)) - 1e-9, 6) + 0
           END AS skewness,
           CASE WHEN m2 > 0 THEN
               ROUND(m4 / (m2 * m2) - 3 - 1e-9, 6) + 0
           END AS excess_kurtosis
    FROM cent ORDER BY pri
    """,
)
def q_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-moment distribution shape per group — SKEWNESS and
    EXCESS KURTOSIS of order value by priority, the tail-shape audit
    beyond mean/stddev (heavy-tailed revenue = a different sampling
    strategy). The mergeable-sketch posture: the four raw power sums
    accumulate in the EXACT DECIMAL domain (2dp source values make
    every power exact; associative, so map-side partials and retries
    can never drift), convert to double once, and the central-moment /
    standardization algebra runs in identical scalar IEEE expressions
    in both engines. Spark's builtin skewness()/kurtosis() are
    float-accumulation-ordered (nondeterministic across partitionings)
    — this formulation is the deterministic distributed replacement.
    Headroom: the x^4 sum at the 10x smoke corpus peaks at 3.8e27
    against DECIMAL(38,8)'s 1e30 integer capacity (~260x margin); a
    further 100x corpus would need a per-group anchor shift."""
    orders = _t(spark, sf_dir, "orders")
    p2 = F.col("o_totalprice").cast("decimal(18,2)") * F.col(
        "o_totalprice"
    ).cast("decimal(18,2)")
    sums = orders.groupBy(F.col("o_orderpriority").alias("pri")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(38,2)")).alias("s1"),
        F.sum(p2).alias("s2"),
        F.sum(
            p2.cast("decimal(24,4)")
            * F.col("o_totalprice").cast("decimal(12,2)")
        ).alias("s3"),
        # dec(18,4) x dec(19,4) -> precision 38 scale 8 EXACTLY in
        # both engines (19x19 would be precision 39: Spark rounds the
        # scale down and the engines drift on the last x^4 digit)
        F.sum(p2.cast("decimal(18,4)") * p2.cast("decimal(19,4)")).alias("s4"),
    )
    d1, d2 = F.col("s1").cast("double"), F.col("s2").cast("double")
    d3, d4 = F.col("s3").cast("double"), F.col("s4").cast("double")
    n = F.col("n")
    m = d1 / n
    m2 = d2 / n - m * m
    m3 = d3 / n - F.lit(3) * m * (d2 / n) + F.lit(2) * m * m * m
    m4 = (
        d4 / n
        - F.lit(4) * m * (d3 / n)
        + F.lit(6) * m * m * (d2 / n)
        - F.lit(3) * m * m * m * m
    )
    # degenerate guard (code-review r13): an all-equal group makes m2
    # zero-or-tiny-negative in float — ANSI Spark would THROW on the
    # division and BOTH engines error on sqrt(negative); clamp the
    # stddev radicand and emit NULL shape stats when m2 <= 0
    return sums.select(
        "pri", "n",
        fround(m, 4).alias("mean"),
        fround(F.sqrt(F.greatest(m2, F.lit(0.0))), 4).alias("stddev_pop"),
        F.when(
            m2 > 0,
            fround(m3 / (F.sqrt(m2) * F.sqrt(m2) * F.sqrt(m2)), 6),
        ).alias("skewness"),
        F.when(
            m2 > 0, fround(m4 / (m2 * m2) - F.lit(3), 6)
        ).alias("excess_kurtosis"),
    ).orderBy("pri")


_PERM_N = 64


@register(
    "q_permutation_test",
    oracle=f"""
    WITH pur AS (
        SELECT user_id, CAST(value AS DECIMAL(20,4)) AS v
        FROM events WHERE event_type = 'purchase'),
    obs AS (
        SELECT CASE WHEN CAST(concat('0x',
                   substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 2 = 0 THEN 'A' ELSE 'B' END AS arm, v
        FROM pur),
    obs_s AS (
        SELECT
          CAST(SUM(CASE WHEN arm = 'A' THEN v END) AS DOUBLE)
            / NULLIF(COUNT(CASE WHEN arm = 'A' THEN 1 END), 0)
          - CAST(SUM(CASE WHEN arm = 'B' THEN v END) AS DOUBLE)
            / NULLIF(COUNT(CASE WHEN arm = 'B' THEN 1 END), 0) AS diff_obs
        FROM obs),
    perms AS (
        SELECT gs.p, pur.user_id, pur.v,
               CASE WHEN CAST(concat('0x',
                   substr(md5(CAST(user_id AS VARCHAR) || ':'
                              || CAST(gs.p AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 2 = 0 THEN 'A' ELSE 'B' END AS arm
        FROM pur
        CROSS JOIN (SELECT unnest(generate_series(0, {_PERM_N - 1})) AS p) gs),
    perm_s AS (
        SELECT p,
          CAST(SUM(CASE WHEN arm = 'A' THEN v END) AS DOUBLE)
            / NULLIF(COUNT(CASE WHEN arm = 'A' THEN 1 END), 0)
          - CAST(SUM(CASE WHEN arm = 'B' THEN v END) AS DOUBLE)
            / NULLIF(COUNT(CASE WHEN arm = 'B' THEN 1 END), 0) AS diff_p
        FROM perms GROUP BY p)
    SELECT ROUND(o.diff_obs - 1e-9, 6) + 0 AS diff_obs,
           CAST({_PERM_N} AS BIGINT) AS n_perms,
           CAST(COUNT(CASE WHEN ABS(s.diff_p) >= ABS(o.diff_obs)
                           THEN 1 END) AS BIGINT) AS n_ge,
           ROUND((1.0 + COUNT(CASE WHEN ABS(s.diff_p) >= ABS(o.diff_obs)
                                   THEN 1 END)) / (1.0 + {_PERM_N})
                 - 1e-9, 6) + 0 AS p_value
    FROM perm_s s CROSS JOIN obs_s o
    GROUP BY o.diff_obs
    """,
)
def q_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMUTATION TEST of the A/B mean difference — the
    nonparametric significance engine that needs no normality
    assumption (the Welch t in q_ab_test does): 64 md5-seeded
    re-randomizations of the arm labels (md5(user:p) parity — every
    permutation is deterministic and engine-replayable, the
    q_dp_noisy_counts seeding posture), each permuted mean difference
    from exact DECIMAL sums, p = (1 + #{|diff_p| >= |diff_obs|}) /
    (1 + P), the add-one estimate that never returns zero. Scale: the
    explode is purchases x 64 — one keyed agg with map-side partials;
    the permutation frame is 64 rows."""
    pur = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("value").cast("decimal(20,4)").alias("v"))
    )

    def parity_arm(col):
        return F.when(
            F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % 2
            == 0,
            "A",
        ).otherwise("B")

    def mean_diff(df, keys):
        # ONE conditional aggregation, mirroring the oracle's spelling
        # exactly: no split/join, and the NULLIF guard keeps an
        # absent arm NULL instead of ANSI-throwing on /0 or dropping
        # the row (code-review r13)
        g = df.groupBy(*keys).agg(
            F.sum(F.when(F.col("arm") == "A", F.col("v")))
            .cast("double").alias("sa"),
            F.count(F.when(F.col("arm") == "A", 1)).alias("na"),
            F.sum(F.when(F.col("arm") == "B", F.col("v")))
            .cast("double").alias("sb"),
            F.count(F.when(F.col("arm") == "B", 1)).alias("nb"),
        )
        return g.select(
            *keys,
            (
                F.col("sa") / F.nullif(F.col("na"), F.lit(0))
                - F.col("sb") / F.nullif(F.col("nb"), F.lit(0))
            ).alias("diff"),
        )

    obs = mean_diff(
        pur.select(
            parity_arm(F.col("user_id").cast("string")).alias("arm"), "v"
        ),
        (),
    ).select(F.col("diff").alias("diff_obs"))
    perms = pur.select(
        F.explode(F.sequence(F.lit(0), F.lit(_PERM_N - 1))).alias("p"),
        "user_id", "v",
    ).select(
        "p",
        parity_arm(
            F.concat(
                F.col("user_id").cast("string"), F.lit(":"),
                F.col("p").cast("string"),
            )
        ).alias("arm"),
        "v",
    )
    perm_s = mean_diff(perms, ("p",))
    return (
        perm_s.crossJoin(F.broadcast(obs))
        .groupBy("diff_obs")
        .agg(
            F.count(
                F.when(F.abs(F.col("diff")) >= F.abs(F.col("diff_obs")), 1)
            ).alias("n_ge")
        )
        .select(
            fround(F.col("diff_obs"), 6).alias("diff_obs"),
            F.lit(_PERM_N).cast("long").alias("n_perms"),
            F.col("n_ge"),
            fround(
                (F.lit(1.0) + F.col("n_ge")) / F.lit(1.0 + _PERM_N), 6
            ).alias("p_value"),
        )
    )
